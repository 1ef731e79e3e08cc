package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Corpus-level composition analytics — the "what is actually in this
  * training set" queries a 100 TB pipeline runs before mixing decisions
  * (no reference analog; the reference is a serving engine, SURVEY §2.5).
  *
  * Scale notes:
  *  - sourceOverlap: the shingle self-join's posting list per shingle is
  *    bounded by the SOURCE cardinality (each shingle appears once per
  *    source after the distinct), so the join fan-out per key is at most
  *    C(nSources, 2) — a dimension-sized constant, never doc-quadratic.
  *    The heavy lifting is the (source, shingle) distinct, a map-side-
  *    combinable aggregate keyed by shingle hash.
  *  - ngramNovelty: one groupBy(shingle) min + one equi-join back; a hot
  *    shingle's posting list meets a single first-seen row, so skew adds
  *    rows to one aggregate key (map-side combined), not a join square.
  */
object CorpusStats {

  /** Pairwise cross-source n-gram overlap: for every source pair
    * (source_a < source_b), the number of distinct word n-grams they
    * share, their Jaccard, and their containment (shared / smaller set).
    * High containment across sources flags near-duplicate feeds (one
    * source republishing another) before they skew mixture weights.
    *
    * SOURCE-CARDINALITY CONTRACT, enforced: the per-shingle pair explode
    * fans out C(|srcs|, 2) rows, and the output itself is C(nSources, 2)
    * pairs — dimension-sized for feeds (tens to hundreds of sources),
    * quadratic garbage if someone passes per-domain or per-document
    * "sources". `maxSources` fails that call LOUDLY up front (one
    * column-pruned countDistinct over the corpus — trivial next to the
    * shingle explode it guards); re-bucket the source column (e.g. to
    * registrable domains' feeds) rather than raising the bound past what
    * a pairwise report can answer.
    */
  def sourceOverlap(docs: DataFrame, n: Int, maxSources: Int = 256): DataFrame = {
    val nSources = docs.agg(countDistinct(col("source"))).first().getLong(0)
    require(nSources <= maxSources,
      s"sourceOverlap: $nSources distinct sources exceeds maxSources=" +
        s"$maxSources — the pairwise overlap report is C(nSources, 2) and " +
        "the per-shingle explode fans out the same way; re-bucket the " +
        "source column to feed granularity, or raise maxSources only if " +
        "a quadratic-in-sources report is genuinely wanted")
    // ONE corpus-sized shuffle: groupBy(shingle) with a map-side-partial
    // collect_set both dedups (source, shingle) AND inverts the index —
    // no posting self-join exists in this plan at all. Each shingle's
    // source list is bounded by the source cardinality, so the pair
    // explode below fans out to at most C(nSources, 2) dimension-sized
    // rows per shingle, and both downstream aggregates shuffle tiny
    // (source, source) / (source) keyed rows.
    // The shingle key stays the exact string: UNLIKE the ppjoin
    // hash-keying (collisions only add verified-away candidates), an
    // xxhash64 collision here would MERGE two shingles' source sets and
    // perturb counts, and the r7 in-window A/B found no reliable win for
    // the 8-byte key (README)
    val bySh = docs
      .select(col("source"),
        explode(VectorFunctions.wordShingles(col("text"), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .persist() // read twice: per-source sizes + pair counts
    graft.CacheTracker.register(bySh)
    // populate before the two consumers' concurrent first-scans (the
    // self-join wave lesson): an unpopulated cache would run the
    // corpus-sized shingle shuffle + collect_set twice
    bySh.count()
    val sizes = bySh
      .select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // all ordered pairs from the sorted source list (x before y in the
    // sorted array ⇒ source_a < source_b by construction)
    val pairs = bySh
      .select(explode(flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
    pairs
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .join(sizes.select(col("source").as("source_a"), col("n_sh").as("na")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_sh").as("nb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_ngrams"),
        round(col("shared_ngrams") /
          (col("na") + col("nb") - col("shared_ngrams")), 6).as("jaccard"),
        round(col("shared_ngrams") / least(col("na"), col("nb")), 6)
          .as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * shingles whose FIRST occurrence (minimum doc_id) is this document —
    * a streaming-order "how much new text does this doc add" signal used
    * to rank crawl snapshots for incremental training. Deterministic
    * (min over doc ids), hence oracle-checkable.
    */
  def ngramNovelty(docs: DataFrame, n: Int): DataFrame = {
    // no postings join-back: a doc's novel count is just how many
    // shingles FIRST APPEAR in it, i.e. the size of each first_seen
    // group — two chained aggregates over the postings and then one
    // doc-table-sized left join (docs whose every shingle was seen
    // earlier get 0). The shuffle after the min-aggregate carries one
    // row per DISTINCT shingle, not one per posting. The SETS frame is
    // cached because both the postings explode and the per-doc sizes
    // read it — without the cache the tokenize+shingle pass (the
    // dominant per-row cost) runs twice over the corpus.
    val sets = graft.CacheTracker.register(docs
      .select(col("doc_id"),
        VectorFunctions.wordShingles(col("text"), n).as("ss"))
      .persist())
    val novel = sets
      .select(col("doc_id"), explode(col("ss")).as("shingle"))
      .groupBy(col("shingle")).agg(min(col("doc_id")).as("first_seen"))
      .groupBy(col("first_seen").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    sets
      .select(col("doc_id"), size(col("ss")).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)) / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Per-source curation report — the one-table dashboard a mixing
    * decision reads: document and token volume, exact-duplicate exposure
    * (docs whose fingerprint appears MORE THAN ONCE corpus-wide, so
    * cross-source republication shows up in both sources' rows),
    * language spread, and mean quality.
    *
    * Scale shape: three equi-keyed aggregates (fingerprint counts,
    * per-doc quality, the final source rollup) — every shuffle keyed on
    * fp / doc_id / source with map-side partials; no window, no
    * explode beyond tokenization, nothing quadratic.
    */
  def sourceReport(docs: DataFrame): DataFrame = {
    val f = docs.select(col("doc_id"), col("source"), col("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val fpCounts = f.groupBy(col("fp")).agg(count(lit(1)).as("nfp"))
    val q = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    f.join(fpCounts, "fp")
      .join(q, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        countDistinct(col("lang")).as("n_langs"),
        (round(avg(col("quality")), 6) + 0.0).as("mean_quality"))
      .orderBy(col("source"))
  }

  /** ONE-ROW corpus data card — the headline numbers a dataset release
    * documents (volume, distinct-text and duplicate exposure, source and
    * language spread, quality distribution): the corpus-level rollup of
    * [[sourceReport]], same aggregate shapes, one row out.
    */
  def corpusCard(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val f = docs.select(col("doc_id"), col("lang"), col("source"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      size(toks).cast("long").as("n_tokens"),
      TextAnalysis.qualityCol(toks).as("quality"))
    val fpCounts = f.groupBy(col("fp")).agg(count(lit(1)).as("nfp"))
    f.join(fpCounts, "fp")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("fp")).as("n_distinct_texts"),
        sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        (round(avg(col("quality")), 6) + 0.0).as("mean_quality"),
        (round(min(col("quality")), 6) + 0.0).as("min_quality"),
        (round(max(col("quality")), 6) + 0.0).as("max_quality"))
  }
}
