package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Every soak suite once through the `graft.Soak` dispatcher at a small
  * n (the smallest its own requires allow, or a few hundred rows), each
  * printed line parsed as one JSON object and its planted checks read.
  */
class SoakSuiteSpec extends SparkSpec {

  /** The JSON lines `graft.Soak` prints for `args`. */
  private def soak(args: String*): Seq[JsonNode] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Soak.run(spark, args.toArray))
    val mapper = new ObjectMapper()
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq
    assert(lines.nonEmpty, s"${args.mkString(" ")} printed no JSON line")
    lines.map { l =>
      val node = mapper.readTree(l)
      assert(node.isObject && node.size > 0, l)
      node
    }
  }

  private def only(args: String*): JsonNode = {
    val lines = soak(args: _*)
    assert(lines.size == 1, lines.mkString("\n"))
    lines.head
  }

  test("hnsw: both serving shapes agree with brute force", SoakTag) {
    val j = only("hnsw", "500", "8", "2", "20")
    assert(j.get("recall_at_10").asDouble > 0.9)
  }

  test("hnsw refresh: the refreshed index serves the rebuilt live count", SoakTag) {
    assert(only("hnsw", "600", "8", "2", "20", "refresh", "50", "100")
      .get("live_match").asBoolean)
  }

  test("dedup: planted cliques pair and merge", SoakTag) {
    val j = only("dedup", "300")
    assert(j.get("n_pairs").asLong == 30 && j.get("n_multi_clusters").asLong == 3)
  }

  test("semantic: no false drops", SoakTag) {
    assert(only("semantic", "300", "8").get("false_drops").asLong == 0)
  }

  test("retrieval: the fused batch is nQueries × topN", SoakTag) {
    assert(only("retrieval", "300", "10", "500", "20").get("fused_rows").asLong == 100)
  }

  test("pipeline: every stage soak reports", SoakTag) {
    val lines = soak("pipeline", "all", "300")
    assert(lines.map(_.get("soak").asText).toSet == Set("vocab_table",
      "chunk_documents", "funnel_cohort", "semantic_scan", "assemble_corpus",
      "exact_ann_serving", "media_profile"))
  }

  test("curation: projection, coreset, graph tables and dsir", SoakTag) {
    assert(only("curation", "projection", "500").get("mean_norm_distortion").asDouble < 1)
    assert(only("curation", "coreset", "500").get("covering_radius").asDouble > 0)
    assert(only("curation", "graphtables", "400", "2", "21", "16")
      .get("edge_diff").asLong == 0)
    assert(only("curation", "dsir", "1000").get("n_planted").asLong == 50)
  }

  test("online: the composed loop replays to parity", SoakTag) {
    assert(only("online", "1000", "2", "60", "8").get("composed_parity").asBoolean)
  }

  test("graph: PageRank keeps its mass at both sizes", SoakTag) {
    val j = only("graph", "400", "3", "2")
    assert(j.get("pr_mass").asLong > 0 && j.get("lp_spread").asLong > 0)
  }

  test("media: every format decodes", SoakTag) {
    assert(only("media", "40").get("png_mb").asDouble >= 0)
  }

  test("tokenizers: the planted pair or piece comes first", SoakTag) {
    assert(only("bpe", "2000", "2").get("planted_first").asBoolean)
    assert(only("wordpiece", "2000", "2").get("planted_first").asBoolean)
    assert(only("unigram", "2000", "100").get("planted_kept").asBoolean)
  }

  test("jobs: one census line per query", SoakTag) {
    assert(only("jobs", "knn_cosine").get("jobs").asLong > 0)
  }
}
