package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, each designed around
 * its 100 TB shuffle profile:
 *
 *  - exact:       one hash-shuffle on md5(text) — the cheapest possible.
 *  - minhashLsh:  shingle → k minhashes → b bands; candidate pairs only form
 *                 within an LSH band bucket, so the shuffle key is
 *                 (band, bandHash) and the quadratic blowup is confined to
 *                 buckets (skew-safe: giant buckets are capped).
 *  - simhash:     64-bit signature; near-dups collide on 16-bit band keys,
 *                 verified by hamming distance (bit_count(xor)).
 *  - ngramJaccard: exact verification metric, used standalone within blocks
 *                 or as the verify stage after LSH.
 *
 * Everything is `functions._` composition — codegen'd, no UDFs, no
 * collect() — so each stage is a standard shuffle Spark can AQE-replan.
 */
object Dedup {

  import TextFunctions._

  /** Exact dedup: one representative (min id) per identical text.
    * Input must have columns (id LONG, text STRING). */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("id"), md5(col("text")).as("h"))
      .groupBy("h")
      .agg(min("id").as("representative"), count(lit(1)).as("dupCount"))

  /** Duplicate RESOLUTION: every doc mapped to its cluster's canonical id
    * (min id among identical texts) plus a keep flag — the projection a
    * pipeline actually applies after detection (`filter(keep)` drops the
    * duplicates, or join on `canonical` re-points references). One
    * hash-groupBy shuffle; min-by-hash is a partial aggregate, so the
    * mapping costs the same as `exact` at 100 TB. */
  def exactCanonical(docs: DataFrame): DataFrame = {
    val canon = docs.select(col("id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("id").as("canonical"))
    docs.select(col("id"), md5(col("text")).as("h"))
      .join(canon, "h")
      .select(col("id"), col("canonical"), (col("id") === col("canonical")).as("keep"))
  }

  private val Prime = 2147483647L // 2^31-1; minhash universe

  /** 64-bit hash BOTH engines replay bit-for-bit: the first 15 hex digits
    * of the standard MD5 digest parsed as an integer (< 2^60, positive).
    * Spark's conv() and DuckDB's 0x-cast produce the identical BIGINT, so
    * an oracle query can re-derive every sketch that uses it — the
    * replayable twin of xxhash64 for the driver's correctness gate
    * (xxhash64 stays the default production hash: one codegen'd pass,
    * no digest string). */
  val portableHash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** `transform(shinglesOf(toks, n), s => hash64(s))`, fused natively when
    * `hash64` IS the portable hash (expressions/PortableShingleHashes —
    * one MessageDigest reuse per task instead of an interpreted
    * slice + array_join + md5-hex + conv chain per shingle); the generic
    * HOF spelling otherwise. Values are bit-identical either way. */
  private def shingleHashes(toks: org.apache.spark.sql.Column, n: Int,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    if (hash64 eq portableHash64) {
      graft.functions.expressions.PortableShingleHashes.ensureRegistered(
        org.apache.spark.sql.SparkSession.active)
      call_function("portable_shingle_hashes", toks, lit(n))
    } else transform(shinglesOf(toks, n), s => hash64(s))

  /**
   * MinHash signatures + LSH banding.
   * k minhashes h_i(x) = (a_i * x + b_i) mod Prime over shingle hashes
   * (a_i, b_i fixed from a seeded PRNG → reproducible across runs/clusters).
   * Bands of r = k/b consecutive minhashes are hashed to a bucket key.
   *
   * @return candidate duplicate pairs (idA < idB, jaccardEstimate) — pairs
   *         sharing ≥1 band bucket, with the estimated Jaccard from
   *         signature agreement.
   */
  def minhashCandidates(docs: DataFrame, shingleSize: Int = 3, k: Int = 64,
      bands: Int = 16, maxBucket: Int = 64,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    // hash each DISTINCT shingle exactly once; the k permutations then run
    // over the small pre-hashed array (previously xxhash64 re-ran per
    // coefficient — k× the hashing work for identical minima). Tokens
    // materialize as a column first: shingle lambdas referencing an inline
    // tokenize subtree would re-run it per shingle (trees, not DAGs).
    val sh = docs
      .withColumn("__toks", tokens(col("text")))
      .select(col("id"),
        array_distinct(transform(shingleHashes(col("__toks"), shingleSize,
          hash64), x => pmod(x, lit(Prime)))).as("hs"))
    // all k minima in one fused native loop (expressions/MinhashSigs) —
    // same seed-42 coefficients, same values as the k-column spelling
    graft.functions.expressions.MinhashSigs.ensureRegistered(docs.sparkSession)
    val sig = sh.select(col("id"),
      call_function("minhash_sigs", col("hs"), lit(k)).as("sig"))

    // explode into b band buckets — ids only: the 64-long signature array
    // must NOT ride through the ×bands explode and the skew-cap shuffle
    // (it would multiply the shuffle payload by bands); signatures re-join
    // per surviving pair at the end.
    val sigCached = sig.localCheckpoint(false)
    val banded = sigCached.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => hash64(array_join(slice(col("sig"), bi * r + 1, lit(r)), "_")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    // candidate pairs within a bucket; cap pathological buckets (skew guard —
    // a 10^6-doc bucket at 100 TB would otherwise produce 10^12 pairs)
    val capped = banded
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket").orderBy("id")))
      .filter(col("rn") <= maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("id").as("idA"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("idB"))
    val pairs = a.join(b, Seq("band", "bucket")).filter(col("idA") < col("idB"))
      .select("idA", "idB").dropDuplicates("idA", "idB")
    pairs
      .join(sigCached.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
      .join(sigCached.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
      .select(col("idA"), col("idB"),
        (size(filter(zip_with(col("sigA"), col("sigB"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / k).as("jaccardEstimate"))
  }

  /** MinHash+LSH dedup end-to-end: candidates above the similarity threshold
    * verified with exact shingle Jaccard. */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.8,
      shingleSize: Int = 3,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    val k = 64; val bands = 16; val maxBucket = 64
    // ONE sketch pass over the corpus (docSketches: sig + verify set per
    // doc, one tokenize/shingle/hash evaluation) where the previous
    // formulation ran two — minhashCandidates re-shingled for signatures,
    // and a separate `sets` pass re-shingled for exact-Jaccard verify.
    // The verify sets are 8-byte hashes, not shingle STRINGS: the
    // per-pair intersect compares longs (~10x smaller rows through the two
    // joins), and |A∪B| = |A|+|B|-|A∩B| skips building the union array.
    // Full 64-bit hashes (not the mod-Prime minhash universe) keep the
    // collision rate ~|shingles|²/2^64 — far below sketch noise.
    val sk = docSketches(docs, shingleSize, k, hash64).localCheckpoint(false)

    // band-bucket candidates over ids only (signatures/sets must NOT ride
    // the ×bands explode or the skew-cap shuffle), capped per bucket
    val banded = bandBuckets(sk, k, bands, hash64)
    val capped = banded
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket").orderBy("id")))
      .filter(col("rn") <= maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("id").as("idA"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("idB"))
    val pairs = a.join(b, Seq("band", "bucket")).filter(col("idA") < col("idB"))
      .select("idA", "idB").dropDuplicates("idA", "idB")

    // estimate + verify off the SAME sketch rows: one join per side
    // carries (sig, set, sz) instead of the previous sig-join + set-join
    pairs
      .join(sk.select(col("id").as("idA"), col("sig").as("sigA"),
        col("set").as("setA"), col("sz").as("szA")), Seq("idA"))
      .join(sk.select(col("id").as("idB"), col("sig").as("sigB"),
        col("set").as("setB"), col("sz").as("szB")), Seq("idB"))
      .filter((size(filter(zip_with(col("sigA"), col("sigB"),
          (x, y) => (x === y).cast("int")), v => v === 1))
        .cast("double") / k) >= threshold * 0.7)
      .withColumn("inter", size(array_intersect(col("setA"), col("setB"))).cast("double"))
      .withColumn("jaccard", col("inter") / (col("szA") + col("szB") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")
  }

  /** Near-duplicate CLUSTER resolution — the full pipeline a 100 TB dedup
    * run executes: MinHash+LSH candidates, exact-Jaccard verification
    * (minhashDedup), then CONNECTED COMPONENTS over the duplicate-pair
    * graph so transitive duplicates (A≈B, B≈C but A̸≈C) land in ONE
    * cluster, mapped to a canonical id (cluster minimum). Docs with no
    * near-duplicate map to themselves. Components use the large-star/
    * small-star contraction (O(log n) rounds), so the resolution step
    * scales with the duplicate-pair graph, not the corpus.
    * @return (id, canonical, keep) for EVERY input doc */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.8,
      shingleSize: Int = 3,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    // materialize the pair list ONCE: past the small-graph probe,
    // connectedComponents reads it again (the first job of its distributed
    // rounds), and each read would otherwise re-execute the whole
    // LSH+verify pipeline
    val pairs = minhashDedup(docs, threshold, shingleSize, hash64 = hash64)
      .select(col("idA").as("src"), col("idB").as("dst"))
      .localCheckpoint(false)
    val comp = graft.ops.Bfs.connectedComponents(pairs)
    docs.select(col("id"))
      .join(comp.withColumnRenamed("node", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("canonical"))
      .withColumn("keep", col("id") === col("canonical"))
  }

  /**
   * Incremental near-dup cluster maintenance — the missing third of the
   * daily-crawl story (sketch store → batch pair detection → THIS): fold
   * a new batch's duplicate pairs into an existing (id, canonical)
   * assignment without re-resolving the historical corpus. Pairs contract
   * onto their current canonicals first, so the connected-components pass
   * runs on the (small) graph of AFFECTED canonical ids — cost scales
   * with the batch's pair graph plus the clusters it touches, never the
   * corpus. Canonical ids stay the minimum member id, so an unaffected
   * cluster's rows are bit-identical to a full recompute (spec-asserted,
   * including the merge-two-old-clusters case).
   *
   * @param oldAssign (id, canonical) — prior assignment, self-mapped ids
   *                  included or not (absent ids are their own canonical)
   * @param newPairs  (src, dst) — verified duplicate pairs involving new
   *                  and/or old ids
   * @return (id, canonical) covering old ids ∪ pair endpoints
   */
  def incrementalClusters(oldAssign: DataFrame, newPairs: DataFrame): DataFrame = {
    val assign = oldAssign.select(col("id"), col("canonical"))
      .localCheckpoint(false)
    // contract: relabel pair endpoints by their current canonical
    def canonOf(c: String) = assign
      .select(col("id").as(c), col("canonical").as(s"__c_$c"))
    val contracted = newPairs.select(col("src"), col("dst"))
      .join(canonOf("src"), Seq("src"), "left_outer")
      .join(canonOf("dst"), Seq("dst"), "left_outer")
      .select(coalesce(col("__c_src"), col("src")).as("src"),
        coalesce(col("__c_dst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val merged = graft.ops.Bfs.connectedComponents(contracted)
      .localCheckpoint(false) // canonical-id graph only — batch-sized
    // compose: old members follow their canonical's merge; endpoints of
    // the new pairs (possibly brand-new ids) map directly
    val endpoints = newPairs.select(col("src").as("id"))
      .unionByName(newPairs.select(col("dst").as("id"))).distinct()
      .join(assign.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("canonical"))
    assign.unionByName(endpoints)
      .join(merged.withColumnRenamed("node", "canonical")
        .withColumnRenamed("component", "__new"), Seq("canonical"), "left_outer")
      .select(col("id"), coalesce(col("__new"), col("canonical")).as("canonical"))
  }

  /**
   * Persisted MinHash signature store — the incremental (daily-crawl)
   * dedup layout: the historical corpus is sketched ONCE into
   *   `path/docs`  (id, sig ARRAY<LONG> k-minhash, set ARRAY<LONG> hashed
   *                 shingles, sz) — per-doc verification payload;
   *   `path/bands` (band, bucket, id), partitioned by band — the LSH
   *                 candidate index;
   * and each day's batch dedups against it touching only matched buckets
   * (broadcast of the batch's bucket keys), then appends its own
   * sketches. Sketch coefficients are fixed-seed, so signatures written
   * months apart stay comparable — the property the whole layout rests
   * on. At 100 TB the store is the only full-corpus artifact; no batch
   * operation rescans corpus text.
   */
  def saveMinhashStore(docs: DataFrame, path: String, shingleSize: Int = 3,
      k: Int = 64, bands: Int = 16, append: Boolean = false,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): Unit = {
    val mode = if (append) "append" else "overwrite"
    val sk = docSketches(docs, shingleSize, k, hash64).localCheckpoint(false)
    sk.write.mode(mode).parquet(s"$path/docs")
    // cluster rows by the partition column before partitionBy: without it
    // every write task emits one file PER band (tasks × bands small files
    // — a listing-cost problem at 100 TB); clustered, each band lands in
    // as few files as the tasks that own it
    bandBuckets(sk, k, bands, hash64).repartition(col("band")).write.mode(mode)
      .partitionBy("band").parquet(s"$path/bands")
  }

  /**
   * Incremental near-dup: the new batch against the persisted store —
   * candidates from band-bucket matches (the batch side broadcasts; only
   * store buckets the batch actually hashes into produce rows), skew cap
   * applied per matched bucket, signature-estimate prefilter, exact
   * shingle-Jaccard verify — the same pipeline as [[minhashDedup]] with
   * the corpus side read from the store instead of resketched.
   * @return (newId, oldId, jaccard) — verified pairs ≥ threshold
   */
  def minhashDedupIncremental(newDocs: DataFrame, path: String,
      threshold: Double = 0.8, shingleSize: Int = 3, k: Int = 64,
      bands: Int = 16, maxBucket: Int = 64,
      hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    val spark = newDocs.sparkSession
    val sk = docSketches(newDocs, shingleSize, k, hash64).localCheckpoint(false)
    val newBands = bandBuckets(sk, k, bands, hash64)
    val storeBands = spark.read.parquet(s"$path/bands")
    val matched = storeBands.join(
        broadcast(newBands.select(col("band"), col("bucket")).distinct()),
        Seq("band", "bucket"), "left_semi")
    // cap per MATCHED bucket only — the window never sees unmatched store
    val capped = matched.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket").orderBy("id")))
      .filter(col("rn") <= maxBucket)
    val pairs = newBands.select(col("band"), col("bucket"), col("id").as("newId"))
      .join(capped.select(col("band"), col("bucket"), col("id").as("oldId")),
        Seq("band", "bucket"))
      .filter(col("newId") =!= col("oldId"))
      .select("newId", "oldId").dropDuplicates("newId", "oldId")
    val store = spark.read.parquet(s"$path/docs")
    val est = pairs
      .join(sk.select(col("id").as("newId"), col("sig").as("sigA")), Seq("newId"))
      .join(store.select(col("id").as("oldId"), col("sig").as("sigB"),
        col("set").as("setB"), col("sz").as("szB")), Seq("oldId"))
      .filter(size(filter(zip_with(col("sigA"), col("sigB"),
          (x, y) => (x === y).cast("int")), v => v === 1))
        .cast("double") / k >= threshold * 0.7)
    est
      .join(sk.select(col("id").as("newId"), col("set").as("setA"),
        col("sz").as("szA")), Seq("newId"))
      .withColumn("inter",
        size(array_intersect(col("setA"), col("setB"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("szA") + col("szB") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("newId", "oldId", "jaccard")
  }

  /** per-doc sketch row: k-minhash signature + hashed shingle set (the
    * store schema; coefficients fixed-seed so sketches are comparable
    * across runs and appends). `hash64` parameterizes the shingle/bucket
    * hash like [[minhashCandidates]] — pass [[portableHash64]] for an
    * engine-replayable store. */
  private[graft] def docSketches(docs: DataFrame, shingleSize: Int,
      k: Int, hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    graft.functions.expressions.MinhashSigs.ensureRegistered(docs.sparkSession)
    docs
      .withColumn("__toks", tokens(col("text")))
      // hash each shingle ONCE (the `set` column); the mod-Prime minhash
      // universe derives from those hashes — distinct∘pmod∘distinct equals
      // distinct∘pmod, and only array_min/intersect consume the arrays, so
      // ordering is immaterial. Previously the shingle strings were hashed
      // twice (once full-64, once mod-Prime).
      .withColumn("set", array_distinct(
        shingleHashes(col("__toks"), shingleSize, hash64)))
      .withColumn("hs", array_distinct(
        transform(col("set"), x => pmod(x, lit(Prime)))))
      .select(col("id"),
        // all k minima in one fused native loop — same seed-42 coefficients
        call_function("minhash_sigs", col("hs"), lit(k)).as("sig"),
        col("set"), size(col("set")).as("sz"))
  }

  /** LSH band buckets of a sketch table: (band, bucket, id) */
  private[graft] def bandBuckets(sketches: DataFrame, k: Int,
      bands: Int, hash64: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    sketches.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => hash64(array_join(slice(col("sig"), bi * r + 1, lit(r)), "_")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** 64-bit SimHash signature per document: sign of the per-bit weighted sum
    * of token hashes. Computed by explode + 64 conditional-sum aggregates
    * (one shuffle keyed by doc id; partial aggregation makes it map-mostly).
    * A shuffle-free per-row formulation (64 HOF `aggregate`s) was measured
    * 2.6x SLOWER: higher-order-function lambdas evaluate interpreted, while
    * this shape stays inside whole-stage codegen end to end. */
  def simhash(docs: DataFrame,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    val tok = docs.select(col("id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: LSH on 4 × 16-bit bands of the signature, then
    * verify hamming distance ≤ maxHamming via bit_count(xor). */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 3,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    val sig = simhash(docs, tokenHash)
    val banded = sig.select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("id").as("idA"), col("simhash").as("sA"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("idB"), col("simhash").as("sB"))
    a.join(b, Seq("band", "bucket")).filter(col("idA") < col("idB"))
      .withColumn("hamming", bit_count(col("sA").bitwiseXOR(col("sB"))))
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming").dropDuplicates("idA", "idB")
  }

  /**
   * Exact-substring duplicate SPANS (the Lee et al. 2022 "Deduplicating
   * Training Data Makes Language Models Better" ExactSubstr operator,
   * re-expressed for Spark): every maximal character range of a document
   * that is covered by a length-`k` substring occurring >= 2 times anywhere
   * in the corpus (other documents or elsewhere in the same one). The
   * pipeline step that consumes this trims the spans out of the text.
   *
   * The reference implementation builds a suffix array over the whole
   * corpus — a single-node construction. The Spark-native equivalent is
   * gram-positional: (1) explode each doc into its len-k+1 positional
   * k-grams, reduced immediately to 8-byte xxhash64 keys so the shuffle
   * rows stay narrow; (2) one map-side-combinable groupBy finds grams with
   * global count >= 2; (3) a semi-join marks duplicated positions; (4) a
   * per-document window merges overlapping [pos, pos+k) covers into maximal
   * spans. Shuffle profile at 100 TB: stage 2 keys are 8-byte hashes
   * (partial aggregation collapses the long tail of unique grams map-side),
   * stage 3 re-shuffles only the surviving duplicate grams, stage 4
   * partitions by doc id — never wider than the corpus itself, and the
   * quadratic suffix-array memory of the reference design is gone entirely.
   * Collisions (~positions²/2^64) can only over-mark a span, never crash.
   *
   * Output: (id LONG, start LONG, end LONG, chars LONG) — 1-based inclusive
   * character interval [start, end], one row per maximal duplicated span.
   */
  def exactSubstrSpans(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= k)
      .select(col("id"),
        explode(sequence(lit(1), col("len") - (k - 1))).as("pos"),
        col("text"))
      .select(col("id"), col("pos"),
        xxhash64(col("text").substr(col("pos"), lit(k))).as("gh"))
    // duplicated positions in ONE shuffle: a count window keyed on the gram
    // hash (an aggregate + semi-join back would re-evaluate the explode
    // subtree twice and shuffle it twice)
    val dupPos = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("c") >= 2).select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      // a new span starts when this gram's cover [pos, pos+k-1] no longer
      // overlaps-or-abuts the previous cover (positions are sorted, so the
      // running max covered end is lag(pos)+k-1)
      .withColumn("newg",
        when(col("prev").isNull || col("pos") > col("prev") + (k - 1), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("newg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start"),
        (max(col("pos")) + (k - 1)).cast("long").as("end"))
      .withColumn("chars", col("end") - col("start") + 1)
      .select("id", "start", "end", "chars")
  }

  /** Exact word-set Jaccard similarity for all pairs within a blocking key —
    * the verification metric, and a standalone dedup for modest blocks.
    * blockCols bound the quadratic join (never all-pairs at scale). */
  def ngramJaccardPairs(docs: DataFrame, blockCols: Seq[String], threshold: Double): DataFrame = {
    // word sets reduce to 8-byte xxhash64 keys before the quadratic stage:
    // the per-pair intersect compares longs instead of strings and the
    // block join shuffles ~10x smaller rows; |A∪B| = |A|+|B|-|A∩B| skips
    // the per-pair union array. Collisions (~|vocab|²/2^64) are negligible.
    val sets = docs.select((col("id") +:
        transform(wordSet(col("text")), t => xxhash64(t)).as("set") +:
        blockCols.map(col)): _*)
      .withColumn("sz", size(col("set")))
    val a = sets.select((col("id").as("idA") +: col("set").as("setA") +:
      col("sz").as("szA") +: blockCols.map(col)): _*)
    val b = sets.select((col("id").as("idB") +: col("set").as("setB") +:
      col("sz").as("szB") +: blockCols.map(col)): _*)
    a.join(b, blockCols).filter(col("idA") < col("idB"))
      .withColumn("inter", size(array_intersect(col("setA"), col("setB"))).cast("double"))
      .withColumn("jaccard", col("inter") / (col("szA") + col("szB") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")
  }
}
