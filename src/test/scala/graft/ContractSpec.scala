package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself as a spec: every oracle entry must have a
  * query, and the rows-only set (queries without a DuckDB twin) is the
  * EXPLICIT list of approximate/hash-seeded operators — so adding a query
  * without an oracle is a conscious, reviewed decision, not an accident
  * that silently downgrades the correctness gate to a rows>0 check.
  */
class ContractSpec extends AnyFunSuite {

  /** Every (file, text) under src/main/scala, sorted by path. */
  private def mainSources(): Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "source tree not visible from the test JVM")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      f -> (try s.mkString finally s.close())
    }
  }

  test("no contract key is declared twice (a duplicate silently shadows)") {
    // a Map literal keeps the LAST duplicate — nothing at compile or
    // run time flags the earlier entry being shadowed (nearly shipped
    // in r12: a second pii_scrub overrode the boundary-trap original).
    // Count the literal declarations in the source and pin them to the
    // materialized Map sizes.
    val srcFile = new java.io.File("src/main/scala/graft/SparkEntry.scala")
    assume(srcFile.exists, "source tree not visible from the test JVM")
    val src = {
      val s = scala.io.Source.fromFile(srcFile, "UTF-8")
      try s.mkString finally s.close()
    }
    val qi = src.indexOf("lazy val queries"); val oi = src.indexOf("lazy val oracleSql")
    assert(qi >= 0 && oi > qi)
    val qkeys = """"([a-z0-9_]+)" -> \(\(s""".r
      .findAllMatchIn(src.substring(qi, oi)).map(_.group(1)).toSeq
    val okeys = """\n    "([a-z0-9_]+)" ->""".r
      .findAllMatchIn(src.substring(oi)).map(_.group(1)).toSeq
    assert(qkeys.size == qkeys.distinct.size,
      s"duplicate query keys: ${qkeys.diff(qkeys.distinct).distinct}")
    assert(okeys.size == okeys.distinct.size,
      s"duplicate oracle keys: ${okeys.diff(okeys.distinct).distinct}")
    // the literal counts must equal the Map sizes (catches declaration
    // styles the regexes miss drifting silently too)
    assert(qkeys.size == SparkEntry.queries.size,
      s"parsed ${qkeys.size} query declarations vs Map ${SparkEntry.queries.size}")
    assert(okeys.size == SparkEntry.oracleSql.size,
      s"parsed ${okeys.size} oracle declarations vs Map ${SparkEntry.oracleSql.size}")
  }

  test("sessions are built and session-keyed memos are held only in GraftSession") {
    // one session policy for every entry point and one owner for what a
    // session keeps alive: a second builder drifts from the first (the
    // Explain/Verify/soak copies did), and a second session-keyed map
    // needs its own eviction hook
    val sessionMap = """TrieMap\s*(?:\.\s*empty\s*)?\[\s*\(?\s*SparkSession\b""".r
    val offenders = mainSources().filter(_._1.getName != "GraftSession.scala").flatMap {
      case (f, src) =>
        (if (src.contains("SparkSession.builder")) Seq(s"${f.getPath}: SparkSession.builder")
         else Nil) ++
          sessionMap.findFirstIn(src).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("frames are cached only through CacheTracker.pin/fill") {
    // one cache primitive: a raw persist skips the held check (a second
    // owner of one cached plan, "Asked to cache already cached data") and
    // the session owner's release. Named exceptions: the resident HNSW
    // shard RDDs, whose lifetime their caller manages, and the soak and
    // A/B harness mains
    val raw = """\.persist\(|\.cache\(\)""".r
    val exempt = Set("CacheTracker.scala", "HnswSpark.scala",
      "HnswPersistence.scala", "AbBench.scala")
    val offenders = mainSources().filterNot { case (f, _) =>
      exempt(f.getName) || f.getName.endsWith("Soak.scala")
    }.flatMap { case (f, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") &&
            raw.findFirstIn(line.split("//", 2)(0)).nonEmpty =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the kNN-graph refresh's merge test and re-cut live in one file") {
    // one refresh algorithm over two state stores: a second copy of the
    // exact merge test or of the refresh's edge-list top-k re-cut is a
    // second refresh that drifts from the first
    val mergeTest = """struct\(\s*col\("distance"\)\s*,\s*col\("nbr_id"\)\s*\)\s*<""".r
    val reCut = """topK\(\s*col\("distance"\)\s*,\s*col\("nbr_id"\)""".r
    for (pat <- Seq(mergeTest, reCut)) {
      val holders = mainSources().collect {
        case (f, src) if pat.findFirstIn(src).nonEmpty => f.getPath
      }
      assert(holders.size <= 1, s"$pat appears in ${holders.mkString(", ")}")
    }
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("rows-only queries are exactly the documented approximate set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val documented = Set(
      "hnsw_knn", "hnsw_knn_resident", "hnsw_knn_filtered", // HNSW: RNG graphs
      "ivf_trained_knn", // MLlib k-means: engine-internal RNG
      // (r14: the xxhash64 MinHash/SimHash faces left the driver
      // contract — their md5-portable twins minhash_lsh_portable /
      // simhash_signatures_portable / simhash_pairs_portable are
      // oracle-hashed; the fast paths stay DedupSpec-gated)
      // deterministic but k data-dependent iterations ≠ one SQL query;
      // equality-gated vs an independent reference impl in BpeSpec
      "bpe_merges",
      // same data-dependent merge list; per-token parity vs driver-side
      // encodeWord is BpeSpec-gated
      "bpe_encode",
      // unigram-LM tokenizer: data-dependent piece inventory (seed →
      // Viterbi-EM → prune ≠ one SQL); training equality-gated vs an
      // independent reference impl + per-word Viterbi parity in
      // UnigramLmSpec
      "unigram_pieces", "unigram_encode",
      // WordPiece likelihood-scored merges: the same k-data-dependent-
      // iterations class; equality-gated vs an independent reference on
      // BOTH gate paths in WordPieceSpec
      "wordpiece_merges",
      // PCA projection: the driver-side Jacobi eigensolve is not one SQL
      // query; PcaSpec gates orthonormality, the eigen residual, the
      // covariance round-trip, and reconstruction-error monotonicity —
      // the covariance STATISTICS feeding it are the oracle-checked
      // embedding_covariance key
      "pca_project",
      // same class: whitening = the same eigensolve with 1/sqrt(lambda)
      // scaling; PcaSpec gates projected-covariance ~ identity
      "whiten_project")
    assert(rowsOnly == documented,
      s"undocumented rows-only queries: ${rowsOnly -- documented}; " +
        s"stale entries: ${documented -- rowsOnly}")
  }

  test("oracle SQL never references tables outside the fixture set") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      // DuckDB builtin table functions legal in FROM position
      "generate_series")
    // every FROM/JOIN target must be a fixture table or a CTE defined in
    // the same query (cheap regex-level guard against typos that DuckDB
    // would only catch at driver time)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // optional column list covers recursive CTE heads: `reach(a, b) AS (`;
      // optional MATERIALIZED covers the Lloyd-chain twins' hint
      val ctes =
        "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- tables -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }
}
