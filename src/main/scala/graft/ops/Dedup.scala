package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for an LLM training-data pipeline.
  *
  * Scale design: signatures (minhash / simhash) are computed map-side with
  * one fused codegen pass per document — no shuffle. The O(n²) pair space
  * is never materialized: LSH banding (minhash) and pigeonhole chunking
  * (simhash) turn candidate generation into an equi-join on
  * (band, signature) — a single hash shuffle whose fan-out is bounded by
  * bucket size. Oversized buckets (heavily duplicated content — the
  * highest-value dedup target) are NOT dropped: their members pair against
  * the bucket representative (min doc_id), so an m-copy cluster costs m-1
  * pairs instead of m·(m-1)/2 while every member still reaches the
  * representative and connected components reunite the cluster.
  *
  * All content hashing is md5-prefix based (`hash32`/`hash60`) rather than
  * an engine-private hash, so every step of the pipeline is expressible in
  * any SQL engine — the driver's DuckDB oracle replays it end to end.
  */
object Dedup {

  /** Portable 32-bit content hash: first 8 hex chars of md5 as a long in
    * [0, 2^32). Engine-portable (DuckDB: `CAST('0x'||substr(md5(x),1,8) AS
    * BIGINT)`), unlike murmur3/xxhash64. Computed by a native digest-bytes
    * expression — no hex string round-trip (see Md5PrefixLong).
    */
  private[graft] def hash32(c: Column): Column =
    graft.functions.md5_prefix_long(c, 8)

  /** Portable 60-bit content hash (15 hex chars): always positive, so bit
    * extraction needs no sign games in any engine.
    */
  private[graft] def hash60(c: Column): Column =
    graft.functions.md5_prefix_long(c, 15)

  /** Composed-builtins forms of hash32/hash60 (reference semantics for the
    * native expression; spec asserts equality).
    */
  private[graft] def hash32Composed(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
  private[graft] def hash60Composed(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Packed (id, idx) BIGINT key — the aroon/span_dedup idiom — with its
    * documented headroom (0 ≤ idx < 2²⁰, 0 ≤ id < 2⁴³) enforced as a
    * LOUD error: outside the headroom the packing silently collides,
    * which at 100 TB is a wrong answer nobody sees, not an edge case.
    * One branch per row (assert_true in codegen); the success-null folds
    * into the arithmetic via coalesce.
    */
  private[graft] def packKey20(id: Column, idx: Column): Column = {
    val guard = assert_true(
      id >= 0 && id < lit(1L << 43) && idx >= 0 && idx < lit(1L << 20),
      concat(lit("packed-key headroom exceeded (id < 2^43, idx < 2^20): id="),
        id.cast("string"), lit(" idx="), idx.cast("string")))
    // the guard wraps the multiplicand so it fires BEFORE the multiply
    // can ANSI-overflow on an out-of-headroom id
    coalesce(guard.cast("long"), id) * lit(1048576L) + idx
  }

  /** Exact dedup: group identical texts by content hash. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Paragraph/window-level EXACT substring dedup — the standard
    * training-data pass doc-level dedup can't do: remove repeated
    * boilerplate spans *within* otherwise-distinct documents. Documents
    * are cut into fixed non-overlapping `window`-word spans (the
    * reporting/scrub unit); a span is "repeated" when its exact word
    * sequence occurs more than once corpus-wide AT ANY WORD OFFSET —
    * occurrences are counted against a stride-1 probe stream (every
    * full-window shingle of every doc), so detection is
    * ALIGNMENT-INVARIANT: a repeated paragraph is caught no matter how
    * its offset differs between documents (the r7 grid only matched
    * offsets congruent mod `window` — a 1-in-window alignment lottery
    * cross-doc). Emits per doc: span counts, the repeated-span ratio,
    * and `clean_fp` — the fingerprint of the doc with all repeated spans
    * scrubbed (the same auditable shape as piiScrub's clean_fp).
    *
    * Recall contract (explicit, like the LSH cap's): a shared region of
    * ≥ 2·window−1 words is ALWAYS flagged in both docs (each doc's grid
    * then contains a full span inside the region, and that span's word
    * sequence appears in the other doc's probe stream at its own offset);
    * between window and 2·window−2 words it is flagged iff a grid span
    * happens to sit fully inside it; regions shorter than `window` words
    * are invisible — window granularity is the knob. Short tail spans
    * (< window words, the last span of a doc) only match identical
    * short tails.
    *
    * Scale design: the probe explode is map-only and O(corpus words) —
    * window× the grid-span volume, the explicit price of alignment
    * robustness (hashes only; no span strings cross the shuffle); the
    * occurrence count is ONE hash aggregation on the span hash (map-side
    * combined — hot boilerplate spans partially aggregate before the
    * shuffle, they don't skew it); the count join is a co-partitioned
    * equi-join on that same hash; the per-doc rollup is one more bounded
    * aggregation. No pair joins anywhere — cost is O(words), not
    * O(docs²), at any corpus size. ONE materialized word-array scan
    * feeds the grid explode and the probe stream; the grid-span frame is
    * materialized once and feeds the short-tail union and the join probe.
    */
  def substringDedup(docs: DataFrame, window: Int = 20): DataFrame = {
    val nWin = ((size(col("ws")) + lit(window - 1)) / lit(window)).cast("int")
    val words = graft.core.Materialize.once(
      docs.withColumn("ws", wordsOf(col("text")))
        .where(size(col("ws")) >= 1) // null text drops; sequence stays ascending
        .select(col("doc_id"), col("ws")))
    val spans = graft.core.Materialize.once(
      words.select(col("doc_id"), size(col("ws")).as("n"),
          posexplode(transform(sequence(lit(1), nWin),
            i => array_join(slice(col("ws"), (i - lit(1)) * window + lit(1), lit(window)), " "))))
        .toDF("doc_id", "n", "pos", "span")
        .select(col("doc_id"), col("pos"), col("span"),
          md5(col("span").cast("binary")).as("h"),
          ((col("pos") + 1) * window <= col("n")).as("is_full")))
    // corpus-wide occurrence counts at EVERY word offset: the stride-1
    // full-window shingle stream, plus the short tail spans (absent from
    // the shingle stream by length — they keep the exact-tail semantics).
    // Every full grid span IS one of the shingles at its own offset, so
    // cnt >= 1 always and the count join stays inner.
    val probes = words
      .select(explode(shinglesFromWords(col("ws"), window)).as("sp"))
      .select(md5(col("sp").cast("binary")).as("h"))
      .union(spans.where(!col("is_full")).select(col("h")))
    val counts = probes.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    spans.join(counts, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_repeated_spans"),
        // kept = globally-unique spans, re-joined in document order
        md5(array_join(transform(
          array_sort(collect_list(when(col("cnt") === 1, struct(col("pos"), col("span"))))),
          s => s.getField("span")), " ").cast("binary")).as("clean_fp"))
      .withColumn("dup_ratio",
        round(col("n_repeated_spans").cast("double") / col("n_spans"), 6))
      .select(col("doc_id"), col("n_spans"), col("n_repeated_spans"),
        col("dup_ratio"), col("clean_fp"))
  }

  private def wordsOf(c: Column): Column = split(c, "\\s+")

  /** k-word shingles from a materialized word-array column (empty array
    * when the doc is shorter than k words — also guards Spark's
    * descending-sequence surprise when size-k+1 < 1).
    */
  def shinglesFromWords(ws: Column, k: Int = 3): Column = {
    val n = size(ws) - (k - 1)
    when(n <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), n),
        i => concat_ws(" ", slice(ws, i, lit(k)))))
  }

  /** k-word shingles of `text` (empty array when the doc is shorter).
    * Prefer materializing the word array first (see minhashSignatures
    * scaladoc) when this feeds further per-element work.
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromWords(wordsOf(text), k)

  // deterministic permutation constants for minhash (fixed seed).
  // a ∈ [1, 2^31), b ∈ [0, 2^31), shingle hashes < 2^32 ⇒ a*h+b < 2^63:
  // the permutation arithmetic never overflows a signed 64-bit integer in
  // ANY engine (DuckDB raises on BIGINT overflow; Spark would wrap).
  private[graft] val MinhashP = 2147483647L
  private[graft] def perms(numPerm: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(numPerm)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(numPerm)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** (doc_id, sig): minhash signature of the 3-shingle set, `numPerm`
    * permutations. Map-only.
    *
    * Intermediates (word array, shingle hashes) are materialized as
    * columns first: a lambda body re-evaluates its full expression tree
    * per element, so `slice(split(text), i, k)` inlined would re-split the
    * document O(words²) times — materializing makes each lambda read a
    * bound attribute instead.
    */
  def minhashSignatures(docs: DataFrame, numPerm: Int = 128): DataFrame = {
    val (a, b) = perms(numPerm)
    // one fully-fused expression: split → shingles → md5-prefix hashes →
    // all permutation minima in a single pass (graft.functions
    // .ShingleMinHash), NULL for docs under 3 words; value-identical to
    // the composed split/transform/MinHashSignature chain (spec-asserted)
    docs.select(col("doc_id"),
        graft.functions.shingle_minhash(col("text"), 3, a, b, MinhashP).as("sig"))
      .where(col("sig").isNotNull)
  }

  /** Composed-builtins signature (reference semantics for the native
    * expression; spec asserts equality).
    */
  private[graft] def minhashSignaturesComposed(docs: DataFrame, numPerm: Int): DataFrame = {
    val (a, b) = perms(numPerm)
    val sig = array((0 until numPerm).map { i =>
      array_min(transform(col("hashes"),
        h => pmod(lit(a(i)) * h + lit(b(i)), lit(MinhashP))))
    }: _*)
    withShingleHashes(docs).select(col("doc_id"), sig.as("sig"))
  }

  /** Incremental near-dup screening of an incoming batch against an
    * EXISTING corpus — the nightly-crawl pass: don't re-cluster the whole
    * corpus, just answer "is this new doc a near-dup of anything already
    * kept?". Candidates are (new, corpus) pairs only: new-vs-new is the
    * batch's own corpusDedup problem and corpus-vs-corpus was settled
    * when the corpus was built. Per new doc: candidate count, the best
    * corpus match (max estimated Jaccard, ties to the lowest corpus id),
    * and `novel` (no candidate at or above `minJaccard`; sub-3-word docs
    * have no signature and are trivially novel).
    *
    * Scale design: signatures are the same fused map-only pass on both
    * sides (the corpus side can be PRE-COMPUTED and reused across
    * batches); banding joins are skinny (doc_id, band, bsig) equi-joins;
    * oversized CORPUS buckets (boilerplate that matches everything)
    * contribute numReps hash-sampled members per bucket, capping
    * per-new-doc fan-out at O(bands·numReps) instead of O(bucket). The
    * incoming batch is
    * dim-scale next to the corpus, so the candidate set stays bounded by
    * |batch| × bands.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
                       minJaccard: Double = 0.8, numPerm: Int = 128,
                       bands: Int = 16, maxBucket: Int = 100,
                       numReps: Int = 8): DataFrame = {
    val rows = numPerm / bands
    def band(sigs: DataFrame): DataFrame =
      sigs.select(col("doc_id"), posexplode(array((0 until bands).map(bnd =>
        bandSig(col("sig"), bnd, rows)): _*))).toDF("doc_id", "band", "bsig")
    val nSigs = graft.core.Materialize.once(minhashSignatures(newDocs, numPerm))
    val cSigs = graft.core.Materialize.once(minhashSignatures(corpus, numPerm))
    val cBand = band(cSigs)
    val cStats = cBand.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("bucket_n"))
    // oversized corpus buckets contribute numReps HASH-SAMPLED members
    // (portable md5-prefix order — the minhashLshFromSigs scheme: a
    // single min-id rep missed every cluster but its own in a mixed
    // boilerplate bucket; a content-hash sample covers a cluster holding
    // fraction f of the bucket with probability 1 − (1−f)^numReps),
    // keeping per-new-doc fan-out at O(bands·numReps)
    val tagged = cBand.join(cStats, Seq("band", "bsig"))
    val wh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bsig"))
      .orderBy(hash32(col("doc_id").cast("string")), col("doc_id"))
    val screen = tagged.where(col("bucket_n") <= maxBucket)
      .select(col("doc_id"), col("band"), col("bsig"))
      .unionByName(tagged.where(col("bucket_n") > maxBucket)
        .withColumn("hrank", row_number().over(wh))
        .where(col("hrank") <= numReps)
        .select(col("doc_id"), col("band"), col("bsig")))
    val cand = band(nSigs).select(col("doc_id").as("nid"), col("band"), col("bsig"))
      .join(screen.select(col("doc_id").as("cid"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .select(col("nid"), col("cid")).distinct()
    val scored = cand
      .join(nSigs.select(col("doc_id").as("nid"), col("sig").as("sig1")), "nid")
      .join(cSigs.select(col("doc_id").as("cid"), col("sig").as("sig2")), "cid")
      .select(col("nid"), col("cid"),
        estJaccard(col("sig1"), col("sig2"), numPerm).as("est"))
    val rolled = scored.groupBy(col("nid").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("est")).as("best_est"),
        min_by(col("cid"), array(negate(col("est")), col("cid").cast("double")))
          .as("best_match"))
    newDocs.select(col("doc_id"))
      .join(rolled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_match"), col("best_est"),
        (col("best_est").isNull || col("best_est") < minJaccard).as("novel"))
  }

  /** Bloom-screened EXACT incremental dedup — the bounded-memory cousin of
    * the broadcast screen SET used by [[incrementalDedup]]'s semantic
    * sibling: "is this new doc's content hash already in the corpus?"
    * answered by a Bloom filter built over the corpus hashes
    * (`df.stat.bloomFilter` — a treeAggregate of fixed-size bit arrays,
    * never a key collect) plus an exact verification join for the
    * filter's positives. The RESULT is exact: Bloom filters have no
    * false negatives, so every true duplicate is a candidate, and false
    * positives (rate `fpp`) are struck by the verify join. One row per
    * batch doc: (doc_id, h, screened, is_dup), where `screened` is the
    * Bloom candidate bit — `is_dup ⇒ screened` is the no-false-negative
    * invariant BloomScreenSpec pins.
    *
    * Scale design: an exact broadcast screen set costs ≥8 bytes/key; the
    * Bloom screen costs ~1.2 bytes/key at fpp=1% regardless of key width
    * — 10⁹ corpus docs ≈ 1.2 GB executor-resident where the exact set
    * is 8+ GB. The (1−fpp) majority of genuinely-new batch rows are
    * settled MAP-ONLY and never shuffle; only candidates (true dups +
    * ~fpp·|batch| strays) enter the verify equi-join against the skinny
    * distinct corpus-hash column. Past single-executor filter sizes the
    * same plumbing shards the filter by hash prefix into a Bloom forest;
    * this is the single-filter case. The membership probe itself is the
    * one non-codegen step (a Long→Boolean closure over the broadcast
    * bits — no Catalyst builtin expresses it); it guards the shuffle,
    * it is not on a shuffle path.
    *
    * The corpus's skinny hash column is deliberately NOT cached between
    * the sizing count, the filter build, and the verify join: the count
    * collapses to parquet metadata under column pruning, and at corpus
    * scale re-reading one pruned column twice is cheaper than pinning
    * an 8-bytes/doc frame in cluster storage just to save the re-scan.
    */
  def bloomScreenDedup(newDocs: DataFrame, corpus: DataFrame,
                       fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val cH = corpus.select(hash60(col("text")).as("h"))
    // skinny single-column count: sizes the filter to the corpus
    val n = cH.count()
    // empty corpus → everything is novel; short-circuit BEFORE the sketch
    // (stat.bloomFilter aggregated over zero rows yields a null-buffer
    // filter that NPEs on first probe — the EmptySweep finding)
    if (n == 0)
      return newDocs.select(col("doc_id"), hash60(col("text")).as("h"),
        lit(false).as("screened"), lit(false).as("is_dup"))
    val bf = cH.stat.bloomFilter("h", n, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val might = udf((h: Long) => bc.value.mightContainLong(h))
    val batch = newDocs.select(col("doc_id"), hash60(col("text")).as("h"))
      .withColumn("screened", might(col("h")))
    val verified = batch.where(col("screened"))
      .join(cH.distinct().withColumn("dup", lit(true)), Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("screened"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
    batch.where(!col("screened"))
      .select(col("doc_id"), col("h"), col("screened"),
        lit(false).as("is_dup"))
      .unionByName(verified)
  }

  /** docs + `hashes` column: hashed 3-shingles, built via materialized
    * intermediates (see minhashSignatures scaladoc).
    */
  private def withShingleHashes(docs: DataFrame): DataFrame =
    docs.withColumn("ws", wordsOf(col("text")))
      .where(size(col("ws")) >= 3)
      .withColumn("sh", shinglesFromWords(col("ws")))
      .withColumn("hashes", transform(col("sh"), s => hash32(s)))

  /** Column form of the fused signature (null for sub-3-word docs) — also
    * the map-side signature pass of the STREAMING near-dup operator.
    */
  private[graft] def minhashSig(text: Column, numPerm: Int = 128): Column = {
    val (a, b) = perms(numPerm)
    graft.functions.shingle_minhash(text, 3, a, b, MinhashP)
  }

  /** Portable band signature: 60-bit md5-prefix of the comma-joined band
    * slice of the minhash signature (any engine can replay it, unlike
    * xxhash64) — a long join key, not a 32-char hex string.
    */
  private[graft] def bandSig(sig: Column, band: Int, rows: Int): Column =
    hash60(concat_ws(",",
      transform(slice(sig, band * rows + 1, rows), v => v.cast("string"))))

  /** Estimated Jaccard from two minhash signatures: matching fraction. */
  private[graft] def estJaccard(sig1: Column, sig2: Column, numPerm: Int): Column =
    size(filter(zip_with(sig1, sig2, (p, q) => p === q), m => m))
      .cast("double") / lit(numPerm.toDouble)

  /** Near-dup candidate pairs via LSH banding over minhash signatures.
    * Output: (id1, id2, est_jaccard).
    *
    * Buckets larger than `maxBucket` (pathological duplication / skew)
    * switch from all-pairs to bounded pairing: each member pairs with the
    * bucket's min doc_id (representative) AND with its doc_id-successor
    * (ring). Candidate-level connectivity is fully preserved; after
    * strict downstream verification the ring keeps locally-similar chains
    * connected even when members resemble neighbors more than the
    * representative. Recall vs all-pairs can still drop in adversarial
    * mixed buckets — that is the explicit price of capping O(m²) hot
    * buckets at O(m) pairs. Bucket sizes come from a groupBy +
    * co-partitioned join on (band, bsig); the only sort is confined to
    * the oversized buckets themselves.
    */
  def minhashLsh(docs: DataFrame, numPerm: Int = 128, bands: Int = 16,
                 maxBucket: Int = 100, numReps: Int = 8): DataFrame =
    minhashLshFromSigs(cutLineageLazy(minhashSignatures(docs, numPerm)),
      numPerm, bands, maxBucket, numReps)

  /** LSH banding over an ALREADY-MATERIALIZED signature frame.
    *
    * The signature pass is the full corpus text scan — by far the most
    * expensive map stage in the pipeline — and it feeds three consumer
    * branches (banding + both sides of the scoring join). Per-branch
    * pushed-down filters de-canonicalize the subtrees, so ReuseExchange
    * never fires and a lazy plan recomputes the scan per branch.
    * `minhashLsh` therefore cuts lineage ONCE right after
    * `minhashSignatures` (reliable checkpoint on a cluster, executor-local
    * otherwise — blocks are MEMORY_AND_DISK, n×128 longs ≪ corpus text):
    * every branch then reads the materialized blocks instead of
    * re-scanning the corpus. Driver-measured at sf0.1 this replaced three
    * full ShingleMinHash passes with one.
    */
  private[graft] def minhashLshFromSigs(sigs: DataFrame, numPerm: Int = 128,
                                        bands: Int = 16, maxBucket: Int = 100,
                                        numReps: Int = 8,
                                        attach: Option[DataFrame] = None): DataFrame = {
    val rows = numPerm / bands
    // banding rows are skinny (doc_id, band, bsig) — the 128-long signature
    // array never travels through the bucket-stats shuffles.
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(bnd =>
        bandSig(col("sig"), bnd, rows)): _*)))
      .toDF("doc_id", "band", "bsig")
    val stats = banded.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("bucket_n"), min(col("doc_id")).as("rep"))
    // four consumers (both small-pair sides, representative pairs, ring
    // pairs) would each re-run the banding + bucket-stats join — cut once
    val tagged = graft.core.Materialize.once(banded.join(stats, Seq("band", "bsig")))
    val small = tagged.where(col("bucket_n") <= maxBucket)
    val smallPairs = small.select(col("band"), col("bsig"), col("doc_id").as("id1"))
      .join(small.select(col("band"), col("bsig"), col("doc_id").as("id2")),
        Seq("band", "bsig"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    // oversized buckets: HASH-SAMPLED multi-representative pairing +
    // doc_id-ring pairing at strides 1 and 2 — still O(m) pairs per
    // bucket (m·numReps + 2m). A single min-id representative had a
    // measured adversarial hole: a bucket MIXING several clusters only
    // recovered the representative's own cluster (id-interleaving also
    // defeats any fixed ring stride). Representatives picked by the
    // portable content-hash order are a uniform sample of the bucket an
    // id-interleaving adversary cannot bias: a cluster holding fraction
    // f of the bucket is missed by all numReps reps with probability
    // (1−f)^numReps, and one same-cluster rep hub is enough for the
    // verify + connected-components stage to reunite the whole cluster
    // (LshRecallSpecs measures 1.0 cluster recall on the adversarial
    // 3-way interleave that scored 0.33 under the single-rep scheme).
    val big = tagged.where(col("bucket_n") > maxBucket)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bsig")).orderBy(col("doc_id"))
    val ringSrc = big
      .withColumn("next_id", lead(col("doc_id"), 1).over(wb))
      .withColumn("next2_id", lead(col("doc_id"), 2).over(wb))
    val ringPairs = ringSrc.where(col("next_id").isNotNull)
      .select(col("doc_id").as("id1"), col("next_id").as("id2"))
      .unionByName(ringSrc.where(col("next2_id").isNotNull)
        .select(col("doc_id").as("id1"), col("next2_id").as("id2")))
    val wh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bsig"))
      .orderBy(hash32(col("doc_id").cast("string")), col("doc_id"))
    val reps = big
      .withColumn("hrank", row_number().over(wh))
      .where(col("hrank") <= numReps)
      .select(col("band"), col("bsig"), col("doc_id").as("rid"))
    val repPairs = big.join(reps, Seq("band", "bsig"))
      .where(col("doc_id") =!= col("rid"))
      .select(least(col("doc_id"), col("rid")).as("id1"),
        greatest(col("doc_id"), col("rid")).as("id2"))
    val bigPairs = repPairs.unionByName(ringPairs)
    // dedupe candidate pairs BEFORE scoring: est_jaccard depends only on
    // the two signatures, so one evaluation per distinct pair suffices.
    // ONE pair-scale exchange for dedup + the id1-side gather (guide
    // §2.4): repartition(id1) first, then the (id1, id2) dropDuplicates
    // and the id1 join both ride that layout (hashpartitioning(id1)
    // satisfies the {id1, id2} clustering); the former
    // distinct().join(sig1).join(sig2) — plus the callers' separate
    // shingle joins — paid up to five pair-scale exchanges. `attach`
    // carries the verify stage's per-doc columns (e.g. the shingle set)
    // through the SAME two gathers instead of a second join pass; it
    // must contain (doc_id, sig, …) — None gathers from `sigs`.
    val pairs = smallPairs.unionByName(bigPairs)
      .repartition(col("id1"))
      .dropDuplicates("id1", "id2")
    val side = attach.getOrElse(sigs)
    // cheap structural check of the attach contract (ADVICE r15): the
    // frame must expose (doc_id, sig); an attach filtered differently
    // from `sigs` would still silently drop pairs through the inner
    // joins, so the row-coverage part stays a documented caller contract
    require(side.columns.contains("doc_id") && side.columns.contains("sig"),
      s"attach frame must carry (doc_id, sig); got ${side.columns.mkString(",")}")
    val extras = side.columns.filter(c => c != "doc_id" && c != "sig").toSeq
    def sided(idCol: String, sfx: String) = side.select(
      col("doc_id").as(idCol) +: (("sig" +: extras)
        .map(c => col(c).as(c + sfx))): _*)
    pairs
      .join(sided("id1", "1"), "id1")
      .join(sided("id2", "2"), "id2")
      .select(Seq(col("id1"), col("id2")) ++
        extras.flatMap(c => Seq(col(c + "1"), col(c + "2"))) :+
        estJaccard(col("sig1"), col("sig2"), numPerm).as("est_jaccard"): _*)
  }

  /** Exact shingle-Jaccard verification over LSH candidates:
    * (id1, id2, est_jaccard, jaccard).
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    ngramJaccardFrom(cutLineageLazy(sigShingleScan(docs)), minJaccard)

  /** ONE fused full-text pass producing everything the near-dup pipeline
    * needs per doc: the fused minhash signature (null for sub-3-word docs)
    * and the distinct shingle set. Materialized once by the callers; every
    * downstream branch (banding, both scoring-join sides, both
    * Jaccard-verify sides) derives from the materialized frame — the
    * corpus text is scanned exactly once.
    */
  private def sigShingleScan(docs: DataFrame, extra: Column*): DataFrame =
    docs.withColumn("ws", wordsOf(col("text")))
      .select(Seq(col("doc_id"), minhashSig(col("text")).as("sig"),
        array_distinct(shinglesFromWords(col("ws"))).as("sh")) ++ extra: _*)

  /** Verify stage over a materialized (doc_id, sig, sh[, …]) frame. */
  private[graft] def ngramJaccardFrom(base: DataFrame, minJaccard: Double): DataFrame = {
    val sigs = base.where(col("sig").isNotNull).select(col("doc_id"), col("sig"))
    // shingle sets ride the pair frame's OWN sig gathers (attach) — the
    // former separate sh joins re-exchanged the pair frame by id1 and id2
    // a second time (pairs with a sig-less side cannot exist, so the
    // sig-null filter on the attach side drops nothing)
    minhashLshFromSigs(sigs,
      attach = Some(base.where(col("sig").isNotNull)
        .select(col("doc_id"), col("sig"), col("sh"))))
      .select(col("id1"), col("id2"), col("est_jaccard"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Asymmetric CONTAINMENT verification over LSH candidates — the
    * quote/subset detector doc-level Jaccard misses: a short doc fully
    * embedded in a long one has low Jaccard (small union ratio) but
    * containment ≈ 1 in one direction. Same fused single text scan, same
    * LSH candidate generation as `ngramJaccard`; emits |∩| and both
    * directional containments, keeping pairs where either direction
    * reaches `minContainment`. (LSH recall caveat: candidates are
    * Jaccard-biased, so extreme length ratios may not band together —
    * the standard MinHash-containment tradeoff, documented not hidden.)
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.8): DataFrame = {
    val base = cutLineageLazy(sigShingleScan(docs))
    val sigs = base.where(col("sig").isNotNull).select(col("doc_id"), col("sig"))
    // shingle sets ride the sig gathers — see ngramJaccardFrom
    minhashLshFromSigs(sigs,
      attach = Some(base.where(col("sig").isNotNull)
        .select(col("doc_id"), col("sig"), col("sh"))))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("n_common"),
        size(col("sh1")).cast("long").as("n1"),
        size(col("sh2")).cast("long").as("n2"))
      .withColumn("containment_1in2", when(col("n1") > 0,
        round(col("n_common").cast("double") / col("n1"), 6)))
      .withColumn("containment_2in1", when(col("n2") > 0,
        round(col("n_common").cast("double") / col("n2"), 6)))
      .where(col("containment_1in2") >= minContainment ||
        col("containment_2in1") >= minContainment)
  }

  /** Connected components over near-dup pairs: every doc in a component
    * gets the component's minimum doc_id as `cluster_id`.
    *
    * Min-label propagation with pointer jumping (each round a node also
    * adopts its current label's label), so rounds needed grow with
    * log₂(component diameter), not the diameter itself. Each round:
    *  - ONE job per round: a lazy lineage cut (`cutLineageLazy`) whose
    *    materialization folds into the round's convergence aggregate —
    *    no plan growth across rounds, no separate probe action;
    *    superseded round outputs are dropped by the context cleaner once
    *    unreferenced;
    *  - NO carry-forward union and NO prev-label join (the r11 measured
    *    re-plan): labels hold the invariant label(x) ≤ x, so the
    *    pointer-jump candidate label(label(v)) ≤ label(v) DOMINATES the
    *    node's own current label — carrying prev labels through the
    *    union is redundant; and because every round is thus pointwise
    *    non-increasing, convergence is detected by comparing the exact
    *    DECIMAL(38,0) sum of labels across rounds (sum unchanged ⟺
    *    pointwise unchanged under monotonicity) instead of joining next
    *    against prev for a changed-flag — one fewer join + exchange in
    *    every round;
    *  - `edges` AND the label frames live in one sealed layout
    *    (hashpartitioning(key, nParts), declared on the cut via
    *    Materialize.cutPartitioned — a plain Dataset.checkpoint reads
    *    UnknownPartitioning under AQE, r16 finding), so the per-round
    *    neighbor join is co-partitioned: the edge list (the largest
    *    frame in the loop) never re-shuffles and, with its declared
    *    within-partition ordering, never re-sorts (the sort-merge sorts
    *    only the node-scale label side per round, and spills rather
    *    than OOMs under skew); only the pointer self-join's probe side
    *    moves.
    * Non-convergence after `maxIters` (diameter > 2^maxIters — not
    * reachable for real near-dup graphs) raises rather than silently
    * splitting a component.
    */
  /** Lineage cut between iterative rounds: a RELIABLE checkpoint when the
    * session has a checkpoint dir (cluster fault tolerance — local
    * checkpoint blocks die with their executor, which at 100 TB with
    * dynamic allocation means a failed job, not a recompute); an
    * executor-local checkpoint otherwise (bench/local mode, no dir).
    */
  private def cutLineage(df: DataFrame): DataFrame = graft.core.Materialize.cut(df)

  /** Lazy lineage cut: materialization folds into the NEXT action on the
    * returned frame, so a CC round costs ONE job (materialize + count
    * changed labels together) instead of checkpoint-then-probe.
    */
  private def cutLineageLazy(df: DataFrame): DataFrame = graft.core.Materialize.once(df)

  def clusters(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    // Phase 1 — AQE-sized symmetrized dedup: repartition(b) first, then
    // dropDuplicates rides that layout (guide §2.4, the r15 form). The
    // partition count this materializes at is BYTE-derived (the 64 MB
    // advisory under size-respecting coalescing) — it becomes the loop's
    // layout constant below, so the loop width is scale-adaptive, never a
    // config constant.
    val pre = cutLineage(pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .repartition(col("b"))
      .dropDuplicates("a", "b"))
    val nParts = math.max(pre.rdd.getNumPartitions, 2)
    // Phase 2 — seal the round layout. A plain cut LOSES its partitioning
    // (the checkpoint's LogicalRDD reads UnknownPartitioning under AQE —
    // measured r16; the r11 "checkpoint preserves outputPartitioning"
    // assumption was false on Spark 4.1), so every round was re-exchanging
    // the EDGE list — the largest frame in the loop. One extra edge-scale
    // exchange here pins the rows into an exact hashpartitioning(b,
    // nParts) that cutPartitioned re-declares on the cut frame; the
    // per-round neighbor join is then CO-PARTITIONED (labels' doc_id
    // renames to the probe key b) and neither side ever exchanges again.
    // pre-sorted by the probe key and DECLARED so (ordering rides the
    // declared layout): the per-round sort-merge join then re-sorts only
    // the node-scale label side, never the edge list — and unlike a
    // shuffled-hash build it degrades by SPILLING, not by OOM, when a
    // partition outgrows its memory slice (the r16 ScaleProbe leg
    // crashed a hinted SHJ build at 39M edges on exactly this).
    val edges = graft.core.Materialize.cutPartitioned(
      pre.repartition(nParts, col("b")).sortWithinPartitions("b"),
      Seq("b"), nParts, sortedBy = Seq("b"))
    // the sealed copy fully replaces the staging one — release it now or
    // the kernel holds TWO edge-scale block sets for the whole query
    graft.core.Materialize.releaseFrame(pairs.sparkSession, pre, edges, blocking = true)
    // seed with the first propagation round folded into init: each node
    // starts at min(self, min neighbor) — one aggregation over the edge
    // list instead of a distinct + a full join round; repartition first so
    // the aggregate rides the exchange and its output is BORN in the
    // round layout (hashpartitioning(doc_id, nParts))
    var labels = graft.core.Materialize.cutPartitioned(
      edges.repartition(nParts, col("a"))
        .groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("cluster_id"))
        .select(col("a").as("doc_id"), col("cluster_id")),
      Seq("doc_id"), nParts)
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    // exact running sum of labels: monotonic pointwise decrease makes
    // sum-equality the convergence signal (see scaladoc) — the action
    // below doubles as the node-scale seed scan on a cut frame
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    val sc = pairs.sparkSession.sparkContext
    // save the caller's job description and restore it in a finally: a
    // round that throws must not leave "cc: round N" stuck on the thread
    // for subsequent unrelated jobs (ADVICE r15)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    try {
    while (!converged && i < maxIters) {
      sc.setJobDescription(s"cc: round ${i + 1}") // guide §1.5 job labels
      // Both joins are co-partitioned (hashpartitioning(key, nParts) on
      // both sides) — NO exchange; the sort-merge re-sorts only the
      // node-scale label side per round (the edge side's declared
      // ordering rides the cut) and spills gracefully under skew — a
      // hinted shuffled-hash build has no fallback and OOMs the query
      // when a build partition outgrows its memory slice (guide §3.1;
      // measured: the r16layout probe at 39M edges). AQE cannot
      // broadcast-switch an exchange-free join, so no per-round
      // broadcast-build jobs either.
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("b"), col("cluster_id").as("cand")), "b")
        .select(col("a").as("doc_id"), col("cand"))
      // inner self-join covers EVERY node (a node's label is a node id in
      // the same component, so the probe always matches) and its
      // candidate label(label(v)) ≤ label(v) dominates the carried self
      // label — no self-union needed
      val viaPointer = labels.as("l1")
        .join(labels.as("l2"), col("l1.cluster_id") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("doc_id"), col("l2.cluster_id").as("cand"))
      // pin the round output into the SAME (doc_id, nParts) layout the
      // joins consume, so label frames never exchange again: the
      // repartition-then-ride form trades the aggregate's map-side
      // combine for one fewer exchange — on the bounded-degree edge
      // lists every CC caller feeds (kNN k-cap, LSH maxBucket/numReps
      // caps), a partition holds few same-doc_id candidate rows, so the
      // combine was saving ~nothing while its exchange cost a full
      // extra pass of the candidate stream
      val next = graft.core.Materialize.oncePartitioned(
        viaNeighbor.unionByName(viaPointer)
          .repartition(nParts, col("doc_id"))
          .groupBy(col("doc_id")).agg(min(col("cand")).as("cluster_id")),
        Seq("doc_id"), nParts)
      // single action per round: the sum's full scan materializes the
      // lazy checkpoint AND yields the convergence signal
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    } finally sc.setJobDescription(prevDesc)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          "(component diameter > 2^" + maxIters + ")")
    labels
  }

  /** [[clusters]] with STABLE ids across incremental runs — the nightly
    * pipeline contract a scratch relabel breaks: yesterday's `cluster_id`
    * must survive today's run, or every downstream table keyed on it
    * (dedup decisions, curation audits, provenance) churns nightly.
    *
    * `prior` is the previous run's (doc_id, cluster_id) frame. Today's
    * components are computed fresh (the iterative kernel is UNCHANGED —
    * pointer jumping needs labels that are node ids, so seeding happens
    * AFTER convergence, in component-scale arithmetic). Each component
    * CLAIMS every prior label its members carry; each prior label is
    * AWARDED to one claimant — the component that contains the label's
    * own representative doc when it is still clustered today (a doc's
    * prior label is its old cluster's min doc_id, so the rep always
    * claims its own label), else the claimant with the smallest fresh
    * label; a component's stable id is the minimum label it won, or its
    * fresh min-doc_id label if it won none. Consequences:
    *  - a component that grew/shrank but kept prior members keeps its
    *    prior id — growth never renames;
    *  - prior clusters that MERGE keep the smallest involved prior id
    *    (the rest retire — awarded to this component, used by none);
    *  - a SPLIT prior cluster follows its representative doc; fragments
    *    without it fall back to fresh labels. A fallback label is a min
    *    doc_id that carries no prior label (if it did, its component
    *    would have been awarded it), so awarded and fallback labels can
    *    never collide — ids stay unique without a repair pass;
    *  - brand-new components take their fresh label.
    *
    * Scale: claims/awards are component-scale aggregations + one
    * dim-scale join back onto the label frame — noise next to the CC
    * rounds themselves.
    */
  def clustersStable(pairs: DataFrame, prior: DataFrame,
                     maxIters: Int = 15): DataFrame = {
    val fresh = clusters(pairs, maxIters)
    val claims = fresh
      .join(prior.select(col("doc_id"), col("cluster_id").as("p")), "doc_id")
      .select(col("cluster_id"), col("p")).distinct()
    // component holding the label's representative doc today (if any) —
    // counted ONLY when that doc's own prior label IS the label (a doc
    // that migrated to another cluster in a past run must not drag the
    // label to a component that never claimed it); under that guard the
    // rep's component is always a claimant
    val repComp = fresh
      .join(prior.where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("p"), col("cluster_id").as("rep_comp"))
    val award = claims.join(repComp, Seq("p"), "left")
      .groupBy(col("p"))
      .agg(coalesce(first(col("rep_comp"), ignoreNulls = true),
        min(col("cluster_id"))).as("cluster_id"))
    val stable = award.groupBy(col("cluster_id"))
      .agg(min(col("p")).as("stable"))
    fresh.join(stable, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("stable"), col("cluster_id")).as("cluster_id"))
  }

  /** [[corpusDedup]] with [[clustersStable]] ids — the incremental form:
    * pass the previous run's (doc_id, cluster_id) and surviving clusters
    * keep their ids. The keeper choice recomputes over today's members
    * (quality can change); only the LABEL is pinned.
    */
  def corpusDedupStable(docs: DataFrame, prior: DataFrame,
                        minJaccard: Double = 0.8): DataFrame =
    corpusDedupStableFromBase(corpusBase(docs), prior, minJaccard)

  /** [[corpusDedupStable]] over a pre-materialized [[corpusBase]]. */
  def corpusDedupStableFromBase(base: DataFrame, prior: DataFrame,
                                minJaccard: Double = 0.8): DataFrame = {
    val comp = clustersStable(ngramJaccardFrom(base, minJaccard), prior)
    val scored = comp.join(base.select(col("doc_id"), col("score")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("keep", (row_number().over(w) === 1).cast("boolean"))
      .select(col("doc_id"), col("cluster_id"), col("keep"))
  }

  /** End-to-end corpus dedup: LSH candidates → exact-Jaccard verify →
    * components → keep the highest-quality doc per cluster (ties: lowest
    * doc_id). Returns (doc_id, cluster_id, keep) for every clustered doc.
    */
  def corpusDedup(docs: DataFrame, minJaccard: Double = 0.8): DataFrame =
    corpusDedupFromBase(corpusBase(docs), minJaccard)

  /** The materialized full-text pass corpusDedup(Stable) runs on:
    * signature + shingle set + quality score per doc, cut once. Exposed
    * so a caller running SEVERAL dedup passes over (subsets of) the same
    * corpus — e.g. the nightly prior-batch replay — computes signatures
    * ONCE and derives each pass's input by filtering the cut frame
    * (signatures are per-doc map-only, so a filtered base is identical
    * to a base over the filtered corpus).
    */
  def corpusBase(docs: DataFrame): DataFrame =
    cutLineageLazy(sigShingleScan(docs,
      TextAnalysis.scoreColumn(col("text")).as("score")))

  /** [[corpusDedup]] over a pre-materialized [[corpusBase]] frame. */
  def corpusDedupFromBase(base: DataFrame, minJaccard: Double = 0.8): DataFrame = {
    // ONE materialized full-text pass (signature + shingle set + quality
    // score); LSH banding, both scoring-join sides, both verify sides and
    // the keeper choice all derive from it — no branch re-scans the corpus
    val comp = clusters(ngramJaccardFrom(base, minJaccard))
    val scored = comp.join(base.select(col("doc_id"), col("score")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("keep", (row_number().over(w) === 1).cast("boolean"))
      .select(col("doc_id"), col("cluster_id"), col("keep"))
  }

  /** (doc_id, simhash): 64-bit SimHash over 60-bit portable word hashes
    * (bits 60-63 are never voted up, so signatures stay in [0, 2^60) —
    * positive in every engine). Map-only; the bit-vote fold is a single
    * native codegen pass (graft.functions.SimHash64).
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.where(size(wordsOf(col("text"))) >= 1)
      .withColumn("wh", transform(wordsOf(col("text")), w => hash60(w)))
      .select(col("doc_id"), graft.functions.simhash64(col("wh")).as("simhash"))

  /** Composed-builtins simhash (reference semantics for the native
    * expression; spec asserts equality).
    */
  private[graft] def simhashSignaturesComposed(docs: DataFrame): DataFrame = {
    val sim = (0 until 64).map { j =>
      val vote = aggregate(col("wh"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    docs.where(size(wordsOf(col("text"))) >= 1)
      .withColumn("wh", transform(wordsOf(col("text")), w => hash60(w)))
      .select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup pairs with hamming distance <= maxHamming via pigeonhole
    * chunking (4×15-bit chunks of the 60 live signature bits: any pair
    * within hamming 3 shares a chunk).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // materialize the signature scan once — both sides of the chunk join
    // would otherwise recompute the full word-hash pass (see minhashLsh)
    val sigs = cutLineageLazy(simhashSignatures(docs))
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .toDF("doc_id", "simhash", "chunk", "cval")
    val x = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("id1"), col("simhash").as("h1"))
    val y = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("id2"), col("simhash").as("h2"))
    x.join(y, Seq("chunk", "cval")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** CROSS-SOURCE duplication matrix: for every source pair, how many
    * distinct exact contents (md5 identity, the dedup_exact convention)
    * appear in BOTH — the crawl-diagnostics view that tells you which
    * feeds are mirrors/syndicates of each other (a high-overlap pair
    * means the second crawl bought almost nothing), plus each source's
    * distinct-content count for normalizing into overlap coefficients
    * downstream. Emits the COMPLETE matrix — every source pair
    * (source_a < source_b), zero-filled where nothing is shared: the
    * zeros are information too ("these feeds are disjoint"), and the
    * complete spine means the output is non-empty whenever two sources
    * exist, at any corpus size (a tiny crawl with no cross-source dups
    * still reports its pair inventory). Columns: (source_a, source_b,
    * n_shared, n_a, n_b, overlap = n_shared/min(n_a, n_b)).
    *
    * Scale shape: one (source, md5) distinct aggregation (map-side
    * combined), cut once — it feeds the pair join AND the per-source
    * totals; the pair join is an equi-join ON THE CONTENT HASH
    * (co-partitioned, fan-out bounded by how many sources share a
    * content — the duplication being measured). The zero-filled spine is
    * built from the totals DIM alone (sources², tiny at any fact size)
    * via a collect_list window + explode — no theta/nested-loop join
    * anywhere; shared counts come back via a broadcast equi left join.
    * Exact integer counts, one rounded division.
    */
  def crossSourceDups(docs: DataFrame): DataFrame = {
    val sc = graft.core.Materialize.once(
      docs.select(col("source"), md5(col("text").cast("binary")).as("h"))
        .distinct())
    val totals = sc.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sc.join(
        sc.select(col("source").as("source_b"), col("h")), Seq("h"))
      .where(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // all-pairs spine off the dim-scale totals: one single-partition
    // window over #sources rows (documented dim-scale, like heaps_curve's
    // batch spine), then explode — sources² rows, no nested-loop join
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val spine = totals
      .withColumn("all", collect_list(struct(col("source"), col("n"))).over(wAll))
      .select(col("source").as("source_a"), col("n").as("n_a"),
        explode(col("all")).as("b"))
      .select(col("source_a"), col("n_a"),
        col("b.source").as("source_b"), col("b.n").as("n_b"))
      .where(col("source_a") < col("source_b"))
    spine
      .join(broadcast(pairs), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_a"), col("n_b"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("overlap"))
  }

  /** Sketch-cost source overlap: per-SOURCE MinHash signatures estimating
    * the shingle-set Jaccard between every source pair — the question
    * crossSourceDups answers exactly ("which crawls feed me the same
    * content"), at aggregation cost instead of join cost. The key fact:
    * the element-wise MIN of per-doc MinHash signatures IS the MinHash
    * signature of the UNION of their shingle sets (min commutes with
    * union), so a source's signature is one map-side-combined aggregate —
    * at 100 TB the exact operator shuffles every content hash, this one
    * shuffles numPerm counters per source.
    *
    * Scale shape: per-doc signatures are the same fused map-only pass as
    * dedup_minhash; posexplode is map-only; the (source, perm)→min
    * aggregate is map-side combined down to sources×numPerm rows — DIM
    * SCALE from there on (the pair match-count join and the all-pairs
    * spine both read sources×numPerm frames). The spine reuses
    * crossSourceDups' collect_list-over-totals idiom (documented
    * dim-scale single-partition window over #sources rows) so source
    * pairs with zero matching components still report est 0.
    * Columns: (source_a, source_b, n_match, est_jaccard = n_match/numPerm).
    */
  def sourceMinhash(docs: DataFrame, numPerm: Int = 128): DataFrame = {
    val (a, b) = perms(numPerm)
    val docSigs = docs.select(col("source"),
        graft.functions.shingle_minhash(col("text"), 3, a, b, MinhashP).as("sig"))
      .where(col("sig").isNotNull)
    val sm = graft.core.Materialize.once(docSigs
      .select(col("source"), posexplode(col("sig")).as(Seq("pos", "h")))
      .groupBy(col("source"), col("pos")).agg(min(col("h")).as("mh")))
    val matches = sm.as("x")
      .join(sm.as("y"),
        col("x.pos") === col("y.pos") && col("x.mh") === col("y.mh") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_match"))
    val srcs = sm.select(col("source")).distinct()
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val spine = srcs
      .withColumn("all", collect_list(col("source")).over(wAll))
      .select(col("source").as("source_a"), explode(col("all")).as("source_b"))
      .where(col("source_a") < col("source_b"))
    spine.join(broadcast(matches), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        round(coalesce(col("n_match"), lit(0L)).cast("double") / lit(numPerm), 6)
          .as("est_jaccard"))
  }

  /** EXACT longest-repeat per document via distributed truncated-suffix
    * ordering + adjacent LCP — the ExactSubstr memorization diagnostic of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22): for every document, the LENGTH (in words, capped)
    * and position of the longest token span starting in it that occurs at
    * least twice in the corpus — at ANY offset, in ANY document,
    * overlapping self-repeats included (the paper's semantics). Strictly
    * stronger than the shingle families: `dedup_substring` answers "is
    * this ≥w-word window repeated", this answers "HOW LONG is the longest
    * repeat here exactly" — the signal that separates boilerplate (20
    * words) from verbatim memorization bait (500 words).
    *
    * Algorithm (the suffix-array LCP argument, distributed): every repeat
    * of length ℓ means two suffixes share an ℓ-word prefix, and
    * prefix-sharing suffixes are CONTIGUOUS in suffix order — so for any
    * suffix, its maximum LCP against the whole corpus is achieved at one
    * of its two NEIGHBORS in sorted order. Adjacent pairs are sufficient;
    * no pair join ever forms.
    *
    * Scale shape: suffixes are map-only (one row per word position
    * carrying the next ≤cap WORD HASHES — 4 bytes/word × cap, the
    * documented truncation knob; cap also clamps reported lengths); the
    * global
    * suffix order is `Rank.withGlobalRank` (range partition + local sort
    * + zipWithIndex — never a single-partition window); neighbors come
    * from ONE co-partitioned equi-join of rank r against r+1 on the
    * materialized ranked frame; the LCP is an O(cap) leading-equals fold
    * (zip_with + aggregate — no UDF); the closer is one doc-keyed
    * map-side-combined max. At 100 TB the ×cap byte amplification is the
    * honest cost the reference implementations pay on disk (their suffix
    * arrays hold 8-byte pointers but random-access the full corpus; a
    * shuffle ships the windows instead — sequential I/O, no random
    * reads).
    *
    * Sort-key note: tokens travel as portable 32-bit md5-prefix hashes
    * (`hash32` — the family's exact-content-identity convention since
    * dedup_exact), so the shuffle ships arrays of ints, not the corpus
    * text ×cap; suffixes order by the hash ARRAY itself. The output only
    * needs SOME prefix-contiguous total order (suffixes sharing an
    * ℓ-prefix are contiguous under any element-wise lexicographic order,
    * hashed or not) and neighbor-max = corpus-max is order-free, so the
    * hashed order is as correct as the textual one — and the oracle
    * replays the identical hashes.
    *
    * Output: (doc_id, max_repeat, pos) per document with ≥1 word —
    * max_repeat 0 (pos null) when the document shares not even a first
    * word at any position; pos = smallest starting position achieving the
    * max.
    */
  def longestRepeat(docs: DataFrame, cap: Int = 32): DataFrame = {
    // NOT cut before the range sort (measured and rejected, r13): the
    // suffix pipeline below IS evaluated twice (repartitionByRange's
    // sampling pass + the real exchange), but the task histograms show
    // the per-pass cost is the slice-explode itself, not this frame's
    // regex+hash — cutting it changed neither pass's runtime and the
    // extra block-manager residency squeezed the downstream
    // sort+checkpoint stage's GC 76 s → 201 s (×243 wall 67.6 → 77.3 s).
    val w = docs.select(col("doc_id"), wordsOf(col("text")).as("ws"))
      .select(col("doc_id"),
        filter(col("ws"), _ =!= "").as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), transform(col("ws"),
        // 31-bit mask packs tokens into INT arrays — halves the bytes the
        // range sort and rank join ship (the dominant cost at scale);
        // collision rate doubles off a 2^-32 base, identical both engines
        wd => hash32(wd).bitwiseAND(lit(0x7FFFFFFFL)).cast("int")).as("hs"))
    val suf = w.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("hs")) - 1),
        i => slice(col("hs"), i + 1, lit(cap)))).as(Seq("pos", "sfx")))
    val ranked = graft.core.Materialize.once(graft.ops.Rank.withGlobalRank(
      suf, Seq(col("sfx"), col("doc_id"), col("pos")))
      .select(col("rank"), col("doc_id"), col("pos"), col("sfx")))
    // leading-equals fold: zip_with pads the shorter side with null,
    // coalesce(false) closes the run there
    def lcp(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => coalesce(x === y, lit(false))),
      struct(lit(0).as("n"), lit(true).as("open")),
      (acc, eq) => struct(
        (acc.getField("n") + when(acc.getField("open") && eq, 1)
          .otherwise(0)).as("n"),
        (acc.getField("open") && eq).as("open")),
      acc => acc.getField("n"))
    val nxt = ranked.select((col("rank") - 1).as("rank"),
      col("doc_id").as("doc2"), col("pos").as("pos2"), col("sfx").as("sfx2"))
    val adj = ranked.join(nxt, Seq("rank"))
      .select(col("doc_id"), col("pos"), col("doc2"), col("pos2"),
        lcp(col("sfx"), col("sfx2")).as("lcp"))
    val contrib = adj.select(col("doc_id"), col("pos"), col("lcp"))
      .unionAll(adj.select(col("doc2").as("doc_id"), col("pos2").as("pos"),
        col("lcp")))
    val best = contrib.groupBy(col("doc_id"))
      .agg(max(struct(col("lcp"), (-col("pos")).as("np"))).as("b"))
      .select(col("doc_id"), col("b.lcp").as("max_repeat"),
        (-col("b.np")).as("pos"))
    // spine from the MATERIALIZED ranked frame (map-side-combined
    // distinct), not a second corpus text scan
    ranked.select(col("doc_id")).distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_repeat"), lit(0)).cast("long").as("max_repeat"),
        when(coalesce(col("max_repeat"), lit(0)) > 0, col("pos"))
          .cast("long").as("pos"))
  }

  /** WINNOWING fingerprints per document (Schleimer/Wilkerson/Aiken — the
    * MOSS algorithm): hash every k-word gram, slide a w-gram window, and
    * keep each window's MINIMUM hash — the fingerprint set that
    * GUARANTEES any shared run of ≥ w+k−1 words contributes at least one
    * common fingerprint (the detection floor doc_fingerprint's single
    * rolling hash and minhash's probabilistic bands can't promise), at
    * ~2/(w+1) storage density. The plagiarism/boilerplate screen between
    * exact substring dedup (all spans) and minhash (whole-doc sketch).
    *
    * The windowed "min hash, LEFTMOST position on ties" argmin is not a
    * window function — both engines min ONE packed BIGINT = h·2³¹ + pos
    * (hash32 < 2³², in-doc pos < 2³¹ ⇒ the packed min IS the
    * lexicographic (h, pos) min; the aroon packing idiom), then DISTINCT
    * selected positions. Ties pick the leftmost occurrence (classic
    * robust winnowing picks rightmost; ours is the deterministic mirror,
    * documented). Hashes are the portable md5-prefix hash32, so the
    * oracle replays end to end. Emits per doc: gram count, fingerprint
    * count, density (≈ 2/(w+1) on random text), and the minimum selected
    * hash (a cheap whole-doc identity).
    *
    * Scale shape: the hashed gram frame (3 integer columns) is cut once
    * and feeds the window chain and the per-doc gram count; the window
    * is one doc-keyed shuffle with a bounded frame; the closing
    * aggregations are map-side combined. Docs shorter than k words drop;
    * docs with fewer than w grams emit 0 fingerprints (no full window).
    */
  def winnowFingerprint(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k >= 1 and w >= 1")
    val grams = graft.core.Materialize.once(
      docs.withColumn("ws", wordsOf(col("text")))
        .where(size(col("ws")) >= k)
        .select(col("doc_id"),
          posexplode(shinglesFromWords(col("ws"), k)))
        .toDF("doc_id", "pos", "gram")
        .select(col("doc_id"), col("pos"), hash32(col("gram")).as("h")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    val sel = grams
      .withColumn("pk", min(col("h") * lit(2147483648L) + col("pos")).over(win))
      .withColumn("cnt", count(lit(1)).over(win))
      .where(col("cnt") === w)
      .select(col("doc_id"), col("pk")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fingerprints"),
        min(expr("pk div 2147483648")).as("min_fp"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        round(coalesce(col("n_fingerprints"), lit(0L)).cast("double") /
          col("n_grams").cast("double"), 6).as("fp_density"),
        col("min_fp"))
  }

  /** HEAPS / corpus-growth curve: ingest the corpus in doc_id order in
    * fixed `batchSize` batches (default 100 — 5 curve points even on the smallest test corpus) and report, per batch, how many documents
    * were NEW exact-content uniques — the dedup-saturation curve every
    * crawl pipeline plots (new-unique yield decays by Heaps' law as a
    * source exhausts; a flat-lining curve is the "stop crawling this
    * source" signal, and the cumulative column is the dedup'd corpus size
    * a capacity plan needs). Content identity is the exact text md5 (the
    * dedup_exact convention); a document is "new" in the batch where its
    * content FIRST appears (min doc_id — deterministic, replay-stable).
    *
    * Scale shape: one hash-partitioned first-occurrence aggregation
    * (min doc_id per md5 — map-side combined, never a window over the
    * corpus), one batch-keyed count aggregation each for totals and
    * uniques, an equi-join of the two at batch scale, and the cumulative
    * over the batch spine runs through [[Scan.withRunningTotal]] (no
    * group, ordered by batch) — the range-partitioned two-pass prefix
    * sum, so even a billion-point curve never lands in one WindowExec
    * task and the plan carries NO unpartitioned Window at all. Exact
    * integers end to end.
    */
  def heapsCurve(docs: DataFrame, batchSize: Long = 100L): DataFrame = {
    require(batchSize > 0, "batchSize > 0")
    Scan.withRunningTotal(heapsSpine(docs, batchSize),
        Seq(), Seq("batch"), "new_uniques", "cum_before")
      .withColumn("cum_uniques", col("cum_before") + col("new_uniques"))
      .drop("cum_before")
  }

  /** The batch spine (batch, docs, new_uniques) feeding [[heapsCurve]]'s
    * running total — exposed so PlanAuditSpec can pin the parquet column
    * pruning that the two-pass scan's RDD boundary hides from the final
    * executed plan.
    */
  private[graft] def heapsSpine(docs: DataFrame, batchSize: Long): DataFrame = {
    val batch = expr(s"doc_id div $batchSize")
    val perBatch = docs
      .groupBy(batch.as("batch"))
      .agg(count(lit(1)).as("docs"))
    val firsts = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
      .groupBy(expr(s"first_id div $batchSize").as("batch"))
      .agg(count(lit(1)).as("new_uniques"))
    perBatch.join(firsts, Seq("batch"), "left")
      .select(col("batch"), col("docs"),
        coalesce(col("new_uniques"), lit(0L)).as("new_uniques"))
  }

  /** SPAN-LEVEL corpus dedup — the C4 line-dedup move on a corpus whose
    * documents carry no newlines: cut every document into FIXED
    * `w`-word spans (the last span may be shorter; a "line" analogue
    * that is deterministic on whitespace text), and keep each exact
    * span content (md5 identity) ONLY at its first corpus occurrence —
    * min (doc_id, span_idx), the replay-stable convention — rewriting
    * every document from its surviving spans. C4 showed boilerplate
    * lives BELOW document granularity (nav chrome, disclaimers, quote
    * blocks): whole-doc dedup keeps it, this strips it while exact-dup
    * documents collapse to one surviving copy and empty rewrites
    * (every span seen earlier) stay visible with n_kept = 0.
    *
    * Emits (doc_id, n_spans, n_kept, text) for EVERY input document.
    * First-occurrence order packs (doc_id, span_idx) into one BIGINT
    * (doc_id·2²⁰ + idx — headroom: docs to 2⁴³, 2²⁰·w words per doc;
    * the aroon packing idiom) so "first" is ONE map-side-combined min
    * aggregation, never a corpus window. Scale shape: spans built
    * map-only (slice over the split array, one scan), the keeper join
    * is equi on the span hash (co-partitioned, fan-out = the
    * duplication being removed), the rebuild is one doc-keyed
    * aggregation whose collect_list is bounded by the document's own
    * span count (sort_array makes the order deterministic).
    */
  def spanDedup(docs: DataFrame, w: Int = 10): DataFrame = {
    require(w >= 1, "w >= 1")
    val spans = docs
      .withColumn("ws", wordsOf(col("text")))
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, int(ceil(size(ws) / ${w}.0)) - 1), " +
          s"i -> concat_ws(' ', slice(ws, i * $w + 1, $w)))")))
      .toDF("doc_id", "idx", "span")
    val hashed = graft.core.Materialize.once(
      spans.withColumn("h", md5(col("span").cast("binary")))
        .withColumn("pk", packKey20(col("doc_id"), col("idx"))))
    val firsts = hashed.groupBy(col("h")).agg(min(col("pk")).as("first_pk"))
    hashed.join(firsts, Seq("h"))
      .withColumn("kept", col("pk") === col("first_pk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN kept THEN " +
            "struct(idx, span) END)), x -> x.span)"), " ").as("text"))
  }

  /** ExactSubstr REMOVAL (Lee et al. "Deduplicating Training Data Makes
    * Language Models Better", ACL'22 — the dedup ACTION whose diagnostic
    * is [[longestRepeat]]): rewrite each document with every word
    * position that lies inside a ≥`w`-word span occurring ≥2 times in
    * the corpus (any doc, any offset, overlapping self-repeats count)
    * removed. [[spanDedup]] keeps one copy of each FIXED block; this is
    * the alignment-free semantics — a repeated span is removed from ALL
    * its occurrences wherever it starts.
    *
    * Exactness without suffix order: position p sits inside a repeated
    * span of length ≥ w  ⟺  some w-gram starting in [p−w+1, p] is
    * globally repeated (a repeated longer span repeats every w-long
    * sub-span of itself; a repeated w-gram IS a qualifying span). So
    * exact coverage needs only w-gram occurrence COUNTS — one
    * map-side-combined aggregate over portable hash32 gram keys (8-byte
    * ints through the shuffle, not text ×w), no suffix sort, no pair
    * join. hash32 collisions can over-remove (2⁻³² per gram pair) —
    * identical on both engines, the family's documented portability
    * trade (see dedup_minhash).
    *
    * Scale shape: the gram stream is map-only; the repeat screen is a
    * map-side-combined count; repeated starts expand ×w into covered
    * positions (output-bounded: proportional to the text actually
    * removed); the word stream anti-joins the covered set on
    * (doc_id, pos) — co-partitioned equi keys — and documents
    * reassemble with one doc-keyed sort_array aggregation bounded by
    * their own length. Emits (doc_id, n_words, n_removed, text) for
    * EVERY input document.
    */
  def exactSubstrPrune(docs: DataFrame, w: Int = 8): DataFrame = {
    require(w >= 2, "w >= 2")
    val wordsF = docs.select(col("doc_id"),
      filter(wordsOf(col("text")), _ =!= "").as("ws"))
    val wp = graft.core.Materialize.once(wordStream(wordsF))
    val grams = graft.core.Materialize.once(gramStream(wordsF, w))
    val repeated = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2).select("h")
    val covered = grams.join(repeated, Seq("h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("pos"))
      .distinct()
    rebuildMinusCovered(wp, covered)
  }

  /** Benchmark SPAN-SCRUB — decontamination at SPAN granularity (the
    * transform [[graft.ops.TextAnalysis.decontaminate]] can't do:
    * doc-level drop loses the whole document when one quoted benchmark
    * passage contaminates it; this removes exactly the quoted spans and
    * keeps the rest): every word position of a corpus document covered
    * by a `w`-gram that appears ANYWHERE in the benchmark partition
    * (`benchPred`) is removed and the document rewritten — the
    * [[exactSubstrPrune]] coverage semantics with "repeated in the
    * corpus" replaced by "present in the benchmark".
    *
    * Scale shape: ONE materialized (doc_id, is_bench, ws) scan feeds the
    * benchmark gram set AND the corpus word/gram streams; the benchmark
    * gram set is dim-scale (eval suites, not crawls) and BROADCASTS into
    * the coverage semi-join — the contaminationCheck convention; the
    * rebuild is [[exactSubstrPrune]]'s anti-join + one doc-keyed
    * aggregation. Emits (doc_id, n_words, n_removed, text) for every
    * NON-benchmark document. A NULL `benchPred` folds to FALSE — the
    * row is CORPUS, scrubbed and emitted (without the fold, both
    * `where(is_bench)` and `where(!is_bench)` drop the null row and a
    * null-dirtied source column makes documents silently vanish).
    */
  def spanScrub(docs: DataFrame, benchPred: Column, w: Int = 8): DataFrame = {
    require(w >= 2, "w >= 2")
    val base = graft.core.Materialize.once(docs.select(col("doc_id"),
      coalesce(benchPred, lit(false)).as("is_bench"),
      filter(wordsOf(col("text")), _ =!= "").as("ws")))
    val bench = gramStream(base.where(col("is_bench")), w)
      .select(col("h")).distinct()
    val corpus = base.where(!col("is_bench"))
    val wp = graft.core.Materialize.once(wordStream(corpus))
    val covered = gramStream(corpus, w).join(broadcast(bench), Seq("h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("pos"))
      .distinct()
    rebuildMinusCovered(wp, covered)
  }

  /** (doc_id, pos, word) stream over a (doc_id, ws) frame;
    * posexplode_outer keeps zero-word docs in the spine (null word row).
    */
  private def wordStream(wordsF: DataFrame): DataFrame =
    wordsF.select(col("doc_id"), posexplode_outer(col("ws")))
      .toDF("doc_id", "pos", "word")

  /** (doc_id, pos, h) w-gram hash32 stream over a (doc_id, ws) frame —
    * map-only, 8-byte gram keys (never text ×w through a shuffle).
    */
  private def gramStream(wordsF: DataFrame, w: Int): DataFrame =
    wordsF.where(size(col("ws")) >= w)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("ws")) - w),
          i => hash32(concat_ws(" ", slice(col("ws"), i + 1, lit(w)))))))
      .toDF("doc_id", "pos", "h")

  /** One-row (dg: sorted array of distinct w-gram hash32s) dictionary
    * frame — the broadcastable dictionary the streaming scrub crosses
    * in (dim-scale contract: the array rides one broadcast variable).
    */
  private[graft] def dictGramArray(docs: DataFrame, w: Int = 8): DataFrame = {
    val wordsF = docs.select(col("doc_id"),
      filter(wordsOf(col("text")), _ =!= "").as("ws"))
    gramStream(wordsF, w).select(col("h")).distinct()
      .agg(sort_array(collect_list(col("h"))).as("dg"))
  }

  /** Rebuild documents from a (doc_id, pos, word) stream minus a covered
    * (doc_id, pos) set: co-partitioned anti-join, then one doc-keyed
    * sort_array aggregation bounded by each document's own length.
    */
  private def rebuildMinusCovered(wp: DataFrame,
      covered: DataFrame): DataFrame = {
    val kept = wp.where(col("word").isNotNull)
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    val stats = wp.groupBy(col("doc_id")).agg(count(col("word")).as("n_words"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(sort_array(collect_list(" +
          "struct(pos, word))), x -> x.word)"), " ").as("text"))
    stats.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Perceptual (dHash) near-dup PAIRS over a (doc_id, dhash) frame —
    * the image face of [[simhashNearDup]]'s pigeonhole machinery: the
    * 63-bit hash splits into 4 chunks (3×16 bits + the 15 top bits), any
    * pair within Hamming `maxHamming` ≤ 3 must agree on at least one
    * chunk EXACTLY (4 chunks, ≤ 3 differing bits), so the candidate join
    * is equi on (chunk, value) — co-partitioned, never an all-pairs
    * scan — and candidates verify with one xor + popcount. Null hashes
    * (failed decodes) drop out before banding. Emits
    * (id1 < id2, hamming) distinct pairs.
    *
    * Scale shape: map-only chunk explode (4 rows/image), one equi-join
    * shuffle on the chunk key; bucket fan-out is governed by the
    * near-dup rate the operator exists to find (perceptually-identical
    * frames collapse to identical chunks — exactly the simhash bucket
    * profile, with the same skew remedy: a hot chunk value IS a dup
    * cluster, and its pairs are the answer, not noise).
    */
  def dhashNearDup(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "pigeonhole guarantee holds for maxHamming <= 3 with 4 chunks")
    val sigs = cutLineageLazy(
      hashed.where(col("dhash").isNotNull)
        .select(col("doc_id"), col("dhash")))
    val chunked = sigs.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("dhash"), c * 16)
          .bitwiseAND(lit(if (c == 3) 0x7FFFL else 0xFFFFL))): _*)))
      .toDF("doc_id", "dhash", "chunk", "cval")
    val x = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("id1"), col("dhash").as("h1"))
    val y = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("id2"), col("dhash").as("h2"))
    x.join(y, Seq("chunk", "cval")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** End-to-end perceptual image dedup over a (doc_id, dhash) frame:
    * [[dhashNearDup]] pairs → [[clusters]] (the pointer-jumping CC every
    * dedup family shares) → keeper = the component's min doc_id (images
    * carry no text-quality score; min id is the replay-stable
    * convention). EVERY input row comes back: unclustered images (and
    * null-hash decode failures) are their own singleton cluster. Columns
    * (doc_id, dhash, cluster_id, keep).
    */
  def dhashDedup(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    val base = cutLineageLazy(hashed.select(col("doc_id"), col("dhash")))
    val labels = clusters(dhashNearDup(base, maxHamming))
    base.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dhash"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("boolean"))
  }

  /** VIDEO near-dup PAIRS over a per-frame fingerprint frame
    * (doc_id, n_frames, frame_idx, dhash) — [[dhashNearDup]]'s pigeonhole
    * machinery lifted from one hash per item to a temporally-ALIGNED
    * sequence: candidates come from an equi-join on
    * (frame_idx, chunk, cval) — same frame position, same 16-bit chunk —
    * so a clip pair is only ever compared frame-against-matching-frame,
    * never frames all-pairs; each candidate frame pair verifies with one
    * xor/popcount, and two clips are near-dups when a STRICT MAJORITY of
    * their aligned frames (frame_idx < min(n_frames)) land within
    * `maxHamming` — robust to a re-encode glitching a minority of frames,
    * while clips sharing only an intro frame stay apart. Null frame
    * hashes (junk frames, real-codec face) drop before banding — a
    * broken frame can cost its own match but never fabricates one.
    * Emits (id1 < id2, n_match, n_aligned).
    *
    * Scale shape: the frame_idx component of the join key multiplies
    * bucket cardinality by the frame count — buckets get SMALLER than
    * image banding, not bigger; everything else inherits the
    * [[dhashNearDup]] profile (map-only chunk explode, one equi-join
    * shuffle, hot buckets = the dup clusters being found).
    */
  def videoNearDup(frames: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "pigeonhole guarantee holds for maxHamming <= 3 with 4 chunks")
    val sigs = cutLineageLazy(frames.where(col("dhash").isNotNull)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"), col("dhash")))
    val chunked = sigs.select(col("doc_id"), col("n_frames"),
      col("frame_idx"), col("dhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("dhash"), c * 16)
          .bitwiseAND(lit(if (c == 3) 0x7FFFL else 0xFFFFL))): _*)))
      .toDF("doc_id", "n_frames", "frame_idx", "dhash", "chunk", "cval")
    val x = chunked.select(col("frame_idx"), col("chunk"), col("cval"),
      col("doc_id").as("id1"), col("n_frames").as("n1"), col("dhash").as("h1"))
    val y = chunked.select(col("frame_idx"), col("chunk"), col("cval"),
      col("doc_id").as("id2"), col("n_frames").as("n2"), col("dhash").as("h2"))
    x.join(y, Seq("frame_idx", "chunk", "cval"))
      .where(col("id1") < col("id2") &&
        bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("frame_idx"))
      .distinct()
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_match"),
        min(least(col("n1"), col("n2"))).as("n_aligned"))
      .where(col("n_match") * 2 > col("n_aligned"))
  }

  /** End-to-end video dedup over a per-frame fingerprint frame:
    * [[videoNearDup]] majority-aligned pairs → [[clusters]] → keeper =
    * component min doc_id (the image convention — clips carry no quality
    * score). EVERY clip comes back; unclustered clips (including
    * all-frames-broken ones) are their own singleton. Columns
    * (doc_id, n_frames, cluster_id, keep).
    */
  def videoFramesDedup(frames: DataFrame, maxHamming: Int = 3): DataFrame = {
    val base = cutLineageLazy(
      frames.select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("dhash")))
    val labels = clusters(videoNearDup(base, maxHamming))
    base.groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("boolean"))
  }

  /** [[videoFramesDedup]] over the documents table's STUB frame face
    * (Multimodal.videoFrameDhashStub) — the oracled [SQL] plumbing
    * proving frame-fan-out → per-frame dHash → aligned banding →
    * majority verify → CC → keeper end to end on engine-portable
    * content-derived frames; the real-codec face is the same machinery
    * fed by Multimodal.frameDhash (spec-tested on generated PNG frame
    * sequences).
    */
  def videoDedup(docs: DataFrame, maxFrames: Int = 4,
                 maxHamming: Int = 3): DataFrame =
    videoFramesDedup(Multimodal.videoFrameDhashStub(docs, maxFrames),
      maxHamming)

  /** [[dhashDedup]] over the documents table's STUB luma face
    * (Multimodal.lumaGridStub → dhashFromLuma) — the oracled [SQL]
    * plumbing proving the whole image-dedup pipeline (grid → dHash →
    * banding → Hamming verify → CC → keeper) on engine-portable
    * content-derived pseudo-luma; the real-codec face is the same
    * machinery fed by Multimodal.imageDhash (spec-tested on generated
    * PNGs, where perceptual closeness is actually exercised).
    */
  def imageDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    dhashDedup(Multimodal.imageDhashStub(docs), maxHamming)
}
