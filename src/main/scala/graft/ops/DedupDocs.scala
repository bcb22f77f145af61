package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, at three cost tiers:
  *
  *  1. [[exactDups]] — hash-groupBy on md5(text): one shuffle, exact.
  *  2. [[jaccardPairs]] — exact n-gram Jaccard via an *inverted index*
  *     (shingle self-join): cost ∝ Σ per-shingle df², never an all-pairs
  *     cross join. The classic plagiarism-detection plan; fine when
  *     shingle document-frequencies are bounded.
  *  3. [[minhashCandidates]] / [[minhashVerifiedPairs]] — MinHash
  *     signatures + banded LSH: candidate pairs only ever form inside an
  *     LSH band bucket, then exact Jaccard verifies just those candidates.
  *     This is the 100 TB path: work scales with true-near-dup density,
  *     not with corpus².
  *
  * All thresholds compare with exact integer cross-multiplication
  * (`c*den >= num*(union)`) — no float epsilon anywhere.
  */
object DedupDocs {

  /** Exact duplicate groups: fingerprint -> group size + keeper (min id). */
  def exactDups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))

  /** Cross-document duplicated-SPAN statistics — the "exact substring
    * dedup" signal: long verbatim spans repeated across documents are
    * memorization fuel even when whole-document near-dup metrics stay
    * low, so training pipelines measure and strip them (suffix-array
    * dedup in the literature; here the distributed approximation over
    * word `k`-gram spans). A span is CONTAMINATED when its exact text
    * occurs in >= 2 DISTINCT documents.
    *
    * Output: one row per input document —
    * `(id, n_spans, n_dup_spans, dup_frac)`. Documents shorter than `k`
    * words have zero spans and `dup_frac = 0`.
    *
    * Scale shape: spans ship as 120-bit md5 fingerprints (two longs —
    * engine-portable, [[Sampling.hashBucket]]'s hash family; see
    * [[SpanFpCols]] for the collision budget), never as span text; the df
    * count is one map-side-combinable shuffle on the fingerprint; the
    * contaminated-fingerprint list is small by construction (true
    * cross-doc repeats only) so AQE broadcasts the back-join; the per-doc
    * rollup is one narrow shuffle keyed by doc id. Nothing here is ever
    * corpus² and no driver-side collection exists.
    */
  def spanStats(
      docs: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"span length must be >= 2 words: $k")
    val grams = spanFingerprints(docs, k, idCol, textCol)
    val hot = grams.groupBy(SpanFpCols.map(col): _*)
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= 2)
      .select(SpanFpCols.map(col) :+ lit(1L).as("_dup"): _*)
    val per = grams.join(hot, SpanFpCols, "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("_dup"), lit(0L))).as("n_dup_spans"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_frac"))
  }

  /** Benchmark DECONTAMINATION: per training document, the number of its
    * `k`-word spans that occur verbatim anywhere in `evalDocs` (the
    * held-out benchmark/eval corpus). Training examples that quote an
    * eval item inflate measured model quality, so pipelines drop or flag
    * any doc with `n_contam_spans > 0` before training.
    *
    * Output: one row per training document — `(id, n_contam_spans)`.
    *
    * Scale shape: both corpora reduce to 120-bit span fingerprints in the
    * scan stage ([[spanStats]]'s hash family); the eval fingerprint set
    * is distinct-ed (benchmark corpora are tiny next to training data, so
    * AQE broadcasts it) and the probe is a fingerprint-keyed join —
    * training text is scanned exactly once and never shuffled as text.
    */
  def contaminationAgainst(
      train: DataFrame,
      evalDocs: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"span length must be >= 2 words: $k")
    val evalFps = spanFingerprints(evalDocs, k, idCol, textCol)
      .select(SpanFpCols.map(col): _*).distinct()
    val per = spanFingerprints(train, k, idCol, textCol)
      .join(evalFps.withColumn("_hit", lit(1L)), SpanFpCols, "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_contam_spans"))
    train.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_contam_spans"), lit(0L)).as("n_contam_spans"))
  }

  /** `(id, fp1, fp2)` — a 120-bit md5 fingerprint (two 60-bit prefix
    * longs) per `k`-word span position. TWO longs, not one: span df
    * counting keys on the GLOBAL distinct-span population, so at 100 TB
    * (~1e13 distinct spans) a single 60-bit hash would produce millions
    * of false df>=2 collisions (n²/2⁶¹); at 120 bits the expectation is
    * ~4e-11 — negligible — while the shuffle payload stays numeric
    * (16 bytes). Contrast the per-doc-pair xxhash64 sets in the minhash
    * verify paths, whose collision population is one document pair, where
    * 64 bits suffice.
    *
    * The span STRINGS are built inside the higher-order lambda (HOFs
    * evaluate interpreted — string assembly is all they should pay for),
    * but the fingerprint is taken AFTER the explode so md5/substring/conv
    * run whole-stage-codegen'd over a plain attribute instead of
    * interpreted per lambda element (measured 3-4x on the q56 path; the
    * two md5 calls share one evaluation via codegen subexpression
    * elimination). The span string never crosses an exchange — the
    * projection to the fingerprint happens in the scan stage.
    */
  private[ops] val SpanFpCols = Seq("fp1", "fp2")

  private def spanFingerprints(
      docs: DataFrame, k: Int, idCol: String, textCol: String): DataFrame = {
    val ws = col("_ws")
    docs
      .withColumn("_ws", split(col(textCol), " "))
      .filter(size(ws) >= k)
      .select(
        col(idCol),
        explode(transform(
          sequence(lit(1), size(ws) - lit(k - 1)),
          i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + lit(j))): _*)))
          .as("_gram"))
      .select(
        col(idCol),
        conv(substring(md5(col("_gram")), 1, 15), 16, 10).cast("long").as("fp1"),
        conv(substring(md5(col("_gram")), 16, 15), 16, 10).cast("long").as("fp2"))
  }

  /** Distinct `(id, shingle)` pairs of word `n`-grams, where `shingle` is
    * the 64-bit `xxhash64` FINGERPRINT of the gram — the key every
    * inverted-index / signature / verify consumer shuffles on. Hashing
    * happens BEFORE the distinct (r9 verdict #1): the raw ~3-word gram
    * strings never cross an exchange, so the distinct, the pinned
    * [[jaccardPairs]] self-join, and the signature aggregations all move
    * 8-byte longs instead of the widest string payload in the engine
    * (q27's 146 MB shuffle read was the bench's largest, fully CPU-bound
    * on string hashing/compare). Set-overlap counts over fingerprints are
    * exact iff the corpus' distinct shingles are collision-free under
    * xxhash64 — expected collisions ≈ n²/2⁶⁵; `graft.Probe` prints the
    * measured count (zero at both oracle scales). Documents shorter than
    * `n` words yield no shingles (same convention as the oracle's
    * `generate_series`).
    */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", n: Int = 3): DataFrame =
    rawShingles(docs, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .distinct()

  /** [[shingles]] in the raw STRING gram space, distinct per doc — for the
    * collision probe (`graft.Probe` counts distinct strings vs distinct
    * fingerprints) and shingle-semantics tests. Not used on any hot path:
    * production consumers take the fingerprint form.
    */
  def shingleStrings(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", n: Int = 3): DataFrame =
    rawShingles(docs, idCol, textCol, n).distinct()

  private def rawShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Materialize the token array as a real column first: as a bound
    // attribute `split` runs once per row, while inlining the expression
    // would re-split the text inside every `element_at` of every shingle —
    // O(words^2) string splitting per document.
    val ws = col("_ws")
    docs
      .withColumn("_ws", split(col(textCol), " "))
      .filter(size(ws) >= n)
      .select(
        col(idCol),
        explode(transform(
          sequence(lit(1), size(ws) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j))): _*)))
          .as("shingle"))
  }

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * hot-shingle guard for every inverted-index consumer. A viral shingle
    * (license block, boilerplate header) is a single join key whose df²
    * self-join output lands in ONE task no matter how the buckets are
    * spread: the classic skewed-key stage-staller at 100 TB. A shingle
    * shared by thousands of documents carries no discriminating signal, so
    * dropping it is standard practice (it changes the metric only for
    * pairs whose overlap depended on non-discriminating shingles).
    *
    * Computed as a window count over `partition by shingle`: when the
    * input is already hash-partitioned on `shingle` (the pinned
    * repartition in [[jaccardPairs]]) the window reuses that exchange and
    * its sort feeds the downstream sort-merge self-join — the cap costs no
    * extra shuffle on the hot path.
    */
  private def capDf(sh: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else sh
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("_df") <= maxDf)
      .drop("_df")

  /** Same cap as [[capDf]], shaped for consumers that do NOT already
    * shuffle on `shingle`: an anti-join against the hot-shingle list
    * instead of a window. The window form re-sorts every shingle row —
    * free in [[jaccardPairs]] whose pinned exchange + sort-merge self-join
    * need exactly that partitioning, pure overhead in the minhash paths
    * whose next operation groups by DOC id (measured r8: q28 6.5 s with
    * the window vs 2.5 s with the anti-join at sf0.1). The hot list is
    * tiny by construction (shingles with df > cap — boilerplate, license
    * blocks), so AQE picks a broadcast anti-join and the shingle stream
    * is never reshuffled; its count-distinct aggregation is map-side
    * combinable, a fraction of the window's full sort.
    */
  /** The shingle column IS the 64-bit fingerprint since r10 (hashed in
    * [[shingles]] before any exchange); the verify joins' `collect_set`
    * payloads were already fingerprints in r9 (q28 GC 74.7 → 6.9 s).
    * Equivalence with the string-set metric is pinned by OpsSpec's
    * minhash-vs-exact case, the shared q27/q28 DuckDB oracle, and
    * `graft.Probe`'s collision count.
    */
  private def shingleHash: org.apache.spark.sql.Column = col("shingle")

  private def capDfAnti(sh: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else sh.join(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select("shingle"),
      Seq("shingle"), "left_anti")

  /** Exact Jaccard >= num/den pairs via the inverted index:
    * co-occurrence counts from a shingle self-join, set sizes from a
    * per-doc count, `jac = c / (na + nb - c)`.
    *
    * `maxDf` (default: uncapped) drops shingles with document frequency
    * above the cap BEFORE the self-join (see [[capDf]]). Set sizes
    * (`na`/`nb`) are computed in the same capped shingle space, so `jac`
    * stays a true Jaccard over the discriminating shingles and
    * [[minhashVerifiedPairs]] with the same cap computes the identical
    * metric.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      num: Int = 1,
      den: Int = 2,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // The shingle index feeds the per-doc set-size count AND both sides of
    // the self-join, but is NOT materialized here: the three consumers
    // share an identical distinct-shuffle subplan, which AQE stage reuse
    // evaluates once (verified round 6 — the explicit localCheckpoint
    // variant wrote every shingle partition through the block manager and
    // benched 2.0 s vs 1.2 s for plain exchange reuse at sf0.1, with the
    // gap widening on IO-contended hosts).
    val sh0 = shingles(docs, idCol, textCol, n)
    // Pin the self-join to an explicit hash partitioning on the join key:
    // the index is small in BYTES but the join OUTPUT is sum(df^2) rows, so
    // AQE's size-based coalescing (or a broadcast pick) would serialize the
    // expensive part into one task. A user repartition is respected by AQE
    // and co-locates both sides with zero extra join shuffle. The df cap
    // rides the same exchange (window over `partition by shingle`).
    val sh = capDf(
      sh0.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col("shingle")),
      maxDf)
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val co = sh.as("a").join(sh.as("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(count(lit(1)).as("c"))
    co
      .join(cnt.withColumnRenamed(idCol, "d1").withColumnRenamed("n_sh", "na"), "d1")
      .join(cnt.withColumnRenamed(idCol, "d2").withColumnRenamed("n_sh", "nb"), "d2")
      .filter(col("c") * den >= (col("na") + col("nb") - col("c")) * num)
      .select(
        col("d1"), col("d2"), col("c"), col("na"), col("nb"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double")).as("jac"))
  }

  /** MinHash signature: `numHashes` columns `m0..m{k-1}`, each the min of
    * a seeded xxhash64 over the doc's shingle-FINGERPRINT set (hashing a
    * uniform 64-bit fingerprint with seed `i` is as valid a minwise family
    * as hashing the raw gram, and keeps the agg input 8-byte). Deterministic
    * (fixed integer seeds), one hash-agg over the exploded shingles.
    */
  private def signaturesFromShingles(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"m$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded-LSH candidate pairs: signatures are cut into `bands` bands of
    * `numHashes/bands` rows; docs sharing any band hash become candidates.
    * The pair join happens *per band bucket* — never across the corpus.
    */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    candidatesFromShingles(shingles(docs, idCol, textCol, n), idCol, numHashes, bands)
  }

  /** Banded `(id, band, bh)` index rows from a shingle set — the
    * persistable minhash artifact (each band hash = xxhash64 over its
    * signature rows).
    */
  private def bandedFromShingles(
      sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sig = signaturesFromShingles(sh, idCol, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*).as("bh"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private def candidatesFromShingles(
      sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    // Both sides of the bucket self-join share this identical (id, band,
    // bh) subplan — AQE stage reuse evaluates the signature aggregation
    // once (see jaccardPairs for why no explicit materialization).
    val banded = bandedFromShingles(sh, idCol, numHashes, bands)
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("d1"), col(s"y.$idCol").as("d2"))
      .distinct()
  }

  /** SimHash near-duplicate pairs — hamming distance <= `maxHamming` over
    * the 32-bit [[TextStats.simhash32]] — via hamming-LSH bands: the
    * signature splits into `maxHamming + 1` contiguous bit bands, and by
    * PIGEONHOLE two signatures within `maxHamming` differing bits must
    * agree exactly on at least one band. Candidates therefore form only
    * inside band buckets (never corpus x corpus) with provably complete
    * recall; exact popcount verifies each candidate. Returns
    * `(d1, d2, dist)`.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame =
    // The 32-bit-signature instance of the generalized banding below —
    // one pipeline (band derivation, pinned (band, bh) partitioning,
    // candidate self-join, exact popcount verify) maintained in one
    // place (r13 review: the two copies had already diverged on the
    // maxBucket hot-band cap).
    hammingNearDupPairs(
      TextStats.simhash32(docs, idCol, textCol), idCol, "simhash", 32, maxHamming)

  /** Hamming near-dup pairs over an ARBITRARY precomputed bit signature
    * (perceptual image hashes, simhashes of any width): the
    * [[simhashNearDupPairs]] pigeonhole banding generalized to `sigBits`-
    * wide signatures in a long column. The signature splits into
    * `maxHamming + 1` contiguous bands; two signatures within `maxHamming`
    * differing bits must agree exactly on at least one band, so candidates
    * form only inside band buckets (never corpus x corpus) with provably
    * complete recall, then exact `bit_count(xor)` verifies each candidate.
    * Returns `(d1, d2, dist)`.
    *
    * Scale note: band width is `sigBits / (maxHamming + 1)` — a generous
    * threshold over a small signature means narrow bands (few distinct
    * buckets) and a fatter candidate set. Keep `maxHamming` tight for the
    * corpus (image dHash near-dups sit within a handful of bits; unrelated
    * images at ~sigBits/2).
    *
    * `maxBucket`: the 100 TB safety valve (the q27/q28 hot-shingle cap
    * applied to signature bands). A band value shared by millions of
    * signatures carries no discriminating information but contributes
    * df² candidate pairs; with the cap, band buckets holding more than
    * `maxBucket` ids are dropped BEFORE the self-join (derived as a small
    * hot-list side input and anti-joined — never a windowed filter, which
    * would add its own exchange). Recall contract under the cap: a
    * qualifying pair is missed only if EVERY band the two signatures
    * agree on is hot — uncapped recall stays pigeonhole-complete.
    */
  /** Pigeonhole band columns for a `sigBits`-wide signature split into
    * `maxHamming + 1` contiguous bands — the shared derivation behind
    * [[hammingNearDupPairs]] and [[hammingDedupeAgainstIndex]] (one
    * formula, so a probe can never band differently than a batch).
    */
  private def hammingBandCols(
      sigCol: String, sigBits: Int, maxHamming: Int): Seq[org.apache.spark.sql.Column] = {
    val nb = maxHamming + 1
    val base = sigBits / nb
    val widths = Array.tabulate(nb)(b => if (b < sigBits % nb) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nb).map { b =>
      struct(
        lit(b).as("band"),
        shiftright(col(sigCol), offsets(b))
          .bitwiseAND(if (widths(b) == 64) -1L else (1L << widths(b)) - 1).as("bh"))
    }
  }

  /** Drop band buckets larger than `cap` via a small anti-joined hot
    * list (never a windowed filter, which would add its own exchange) —
    * ONE definition shared by the batch self-join and the index probe,
    * so the two paths' recall semantics cannot diverge.
    */
  private def capHotBands(
      banded: DataFrame, maxBucket: Option[Int]): DataFrame = maxBucket match {
    case None => banded
    case Some(cap) =>
      val hot = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
        .select(col("band"), col("bh"))
      banded.join(hot, Seq("band", "bh"), "left_anti")
  }

  def hammingNearDupPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      sigBits: Int,
      maxHamming: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(sigBits > 0 && sigBits <= 64, s"sigBits in (0, 64]: $sigBits")
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming in [0, $sigBits): $maxHamming")
    require(maxBucket.forall(_ > 0), s"maxBucket must be positive: $maxBucket")
    val sig = sigs.select(col(idCol), col(sigCol).cast("long").as(sigCol))
    val bandCols = hammingBandCols(sigCol, sigBits, maxHamming)
    // Same pinned partitioning as simhashNearDupPairs: the banded index is
    // tiny in bytes but the self-join OUTPUT is Σdf² — don't let AQE
    // coalesce the join into one task. The signature RIDES THROUGH the
    // banding (8 extra bytes/row on the exchange), so the caller's
    // signature pipeline — for q90 images the render/decode/dHash chain,
    // the dominant cost — evaluates exactly ONCE: the popcount verify
    // reads x/y columns at the self-join instead of joining back to `sig`
    // (the r13 shape paid a second full evaluation there). Same carry the
    // index probe has always used (hammingDedupeAgainstIndex).
    // Repartition BEFORE the hot-band cap: the cap's bucket count and the
    // anti-join probe then share this one pinned exchange (AQE stage
    // reuse) instead of each re-evaluating the signature pipeline.
    val banded = capHotBands(
      sig.select(col(idCol), col(sigCol), explode(array(bandCols: _*)).as("bb"))
        .select(col(idCol), col(sigCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
        .repartition(
          sigs.sparkSession.sparkContext.defaultParallelism, col("band"), col("bh")),
      maxBucket)
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(
        col(s"x.$idCol").as("d1"), col(s"y.$idCol").as("d2"),
        TextStats.hamming(col(s"x.$sigCol"), col(s"y.$sigCol")).cast("long").as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct() // dist is functionally dependent on (d1, d2): one row per pair
  }

  /** Pigeonhole band columns spanning a MULTI-WORD signature (64-bit
    * words, little-endian: word 0 holds bits 0-63). Same contiguous-band
    * derivation as [[hammingBandCols]]; a band straddling a word
    * boundary stitches its low and high parts with shifts. Masked
    * arithmetic shifts are exact: the mask removes every sign-extended
    * bit.
    */
  private def hammingBandColsWide(
      sigCols: Seq[String], maxHamming: Int): Seq[org.apache.spark.sql.Column] = {
    val totalBits = 64 * sigCols.size
    // at least one band per word: a band value must fit one long, and
    // MORE bands than maxHamming+1 keeps the pigeonhole guarantee (some
    // band still sees zero flips)
    val nb = math.max(maxHamming + 1, sigCols.size)
    val base = totalBits / nb
    val widths = Array.tabulate(nb)(b => if (b < totalBits % nb) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    (0 until nb).map { b =>
      val o = offsets(b); val wd = widths(b)
      val wi = o / 64; val wo = o % 64
      val value =
        if (wo + wd <= 64)
          shiftright(col(sigCols(wi)), wo).bitwiseAND(mask(wd))
        else {
          val lowBits = 64 - wo
          shiftright(col(sigCols(wi)), wo).bitwiseAND(mask(lowBits)).bitwiseOR(
            shiftleft(col(sigCols(wi + 1)).bitwiseAND(mask(wd - lowBits)), lowBits))
        }
      struct(lit(b).as("band"), value.as("bh"))
    }
  }

  /** [[hammingNearDupPairs]] over signatures WIDER than 64 bits — one
    * long column per 64-bit word (2 words = the 128-bit dual-gradient
    * image family hash, q95). Same pigeonhole recall contract over the
    * concatenated bit string (`maxHamming + 1` contiguous bands across
    * all words, so any pair within the gate agrees on some whole band),
    * same pinned-exchange single-evaluation shape (every word rides
    * through the banding; verify sums per-word popcounts at the join).
    * Wider signatures exist precisely for scale: the unrelated-pair
    * hamming floor grows linearly with bits while near-dup noise does
    * not, so the gate/floor gap survives populations where 64-bit
    * floors collapse (measured: 8-orientation image families at sf0.1).
    */
  def hammingNearDupPairsWide(
      sigs: DataFrame,
      idCol: String,
      sigCols: Seq[String],
      maxHamming: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(sigCols.size >= 2, "use hammingNearDupPairs for single-word signatures")
    require(maxHamming >= 0 && maxHamming < 64 * sigCols.size,
      s"maxHamming in [0, ${64 * sigCols.size}): $maxHamming")
    require(maxBucket.forall(_ > 0), s"maxBucket must be positive: $maxBucket")
    val sig = sigs.select(
      col(idCol) +: sigCols.map(c => col(c).cast("long").as(c)): _*)
    val bandCols = hammingBandColsWide(sigCols, maxHamming)
    val banded = capHotBands(
      sig.select((col(idCol) +: sigCols.map(col)) :+
          explode(array(bandCols: _*)).as("bb"): _*)
        .select((col(idCol) +: sigCols.map(col)) ++
          Seq(col("bb.band").as("band"), col("bb.bh").as("bh")): _*)
        .repartition(
          sigs.sparkSession.sparkContext.defaultParallelism, col("band"), col("bh")),
      maxBucket)
    val dist = sigCols.map(c =>
      TextStats.hamming(col(s"x.$c"), col(s"y.$c")).cast("long")).reduce(_ + _)
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("d1"), col(s"y.$idCol").as("d2"), dist.as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct() // dist is functionally dependent on (d1, d2): one row per pair
  }

  /** Pairs of docs sharing at least `minShared` DISTINCT exact 64-bit
    * signature values — the inverted-index match step behind crop-robust
    * image dedup ([[graft.ops.Multimodal.keypointHashImagesBatched]])
    * and any other set-of-local-hashes scheme. Candidates form ONLY
    * inside signature buckets (equi-join on the value — never all-pairs,
    * the minhash scale shape); random 64-bit local-patch hashes make
    * cross-image collisions vanishing, so the shared-count gate
    * separates with no verify pass. `maxBucket` caps degenerate hot
    * signatures (a flat-texture patch shared by thousands of images) via
    * the shared anti-joined hot-list idiom; a capped pair is missed only
    * if ALL its shared signatures are hot. Returns `(d1, d2, shared)`.
    *
    * Scale shape: one pinned exchange on `sig` feeds dedup, the hot-list
    * aggregation, and both join sides (AQE stage reuse); join output is
    * Σ df² over signature buckets — bounded by `maxBucket`² per value,
    * and 16-byte rows throughout (ids + sig, never image bytes).
    */
  def sharedSigPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      minShared: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(minShared > 0, s"minShared must be positive: $minShared")
    require(maxBucket.forall(_ > 0), s"maxBucket must be positive: $maxBucket")
    val spark = sigs.sparkSession
    // distinct (id, sig) so the pair count below counts DISTINCT shared
    // values; the sig-keyed repartition pins the join-side partitioning
    // (the q27 AQE-coalescing rule — the join OUTPUT is far larger than
    // the shuffled bytes suggest)
    val deduped = sigs
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .distinct()
      .repartition(spark.sparkContext.defaultParallelism, col("sig"))
    val capped = maxBucket match {
      case None => deduped
      case Some(cap) =>
        val hot = deduped.groupBy(col("sig"))
          .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
          .select(col("sig"))
        deduped.join(hot, Seq("sig"), "left_anti")
    }
    capped.as("x").join(capped.as("y"), Seq("sig"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("d1"), col("y.id").as("d2"))
      .agg(count(lit(1)).as("shared")) // one row per shared distinct sig
      .filter(col("shared") >= minShared)
  }

  /** Persist a corpus's signature SETS (keypoint patch hashes — any
    * set-of-exact-64-bit-values family) for INCREMENTAL shared-signature
    * dedup: [[sharedSigsAgainstIndex]] probes the artifact so ingesting
    * a new batch never re-DECODES or re-keypoints the stored corpus (the
    * decode dominates; stored rows are 16 bytes). Plain `(id, sig)`
    * parquet layout — the probe consumes the index through an equi-JOIN
    * on the value, not a point probe, so a per-sig directory layout
    * would only manufacture tiny files (the q50 index lesson). `family`
    * is stamped ([[IndexMeta]]) and MUST encode every parameter of the
    * signature scheme (e.g. keypoint patch/suppression/gradient/grid
    * settings): a probe hashed under different parameters would join an
    * incompatible signature space and silently pair nothing — the stamp
    * makes that loud. Rows are `distinct`ed: signatures are SETS, and
    * the probe's shared count must count distinct values.
    */
  def writeSigSetIndex(
      sigs: DataFrame,
      path: String,
      idCol: String,
      sigCol: String,
      family: String): Unit = {
    require(family.nonEmpty, "family must name the signature scheme's parameters")
    sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .distinct()
      .write.mode("overwrite").parquet(path)
    IndexMeta.write(sigs.sparkSession, path,
      Map("kind" -> "sigset", "family" -> family))
  }

  /** Append an ACCEPTED batch's signature sets into the index (validated
    * against the stamp first) — the ingest loop's second half. Same
    * caller contract as [[appendToHammingIndex]]: ids must be NEW to the
    * index and the append is not idempotent (replay needs the caller's
    * guard); `distinct` is per-batch, so a replayed batch would double
    * every row. `compactEvery > 0` folds fragments once the parquet file
    * count exceeds it ([[IndexMeta.compactIfFragmented]]).
    */
  def appendToSigSetIndex(
      sigs: DataFrame,
      path: String,
      idCol: String,
      sigCol: String,
      family: String,
      compactEvery: Int = 0): Unit = {
    IndexMeta.validate(sigs.sparkSession, path,
      Map("kind" -> "sigset", "family" -> family), heal = true)
    sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .distinct()
      .write.mode("append").parquet(path)
    IndexMeta.compactIfFragmented(sigs.sparkSession, path, compactEvery)
  }

  /** New-batch pairs against a [[writeSigSetIndex]] corpus: batch docs
    * sharing at least `minShared` DISTINCT signature values with a
    * stored doc — [[sharedSigPairs]]' incremental half. Candidates form
    * only where a signature value matches (batch × index equi-join on
    * the value, never batch × corpus), so the probe cost is the batch's
    * signature buckets, and the corpus is never re-decoded. Returns
    * `(d1 = batch id, d2 = index id, shared)`.
    *
    * `maxBucket` caps hot signatures by their df in the STORED corpus
    * (the corpus defines what is degenerate — a flat-texture patch hash
    * shared by thousands of images); both sides anti-join the hot list,
    * so a capped pair is missed only if ALL its shared values are hot —
    * the [[sharedSigPairs]] trade, made explicit.
    *
    * Scale shape: the batch side repartitions on `sig` (pinned — the
    * q27 AQE rule: the join OUTPUT dwarfs the shuffled bytes); the index
    * side shuffles its 16-byte rows once per probe, the same per-probe
    * corpus pass every equi-join-consumed index in this family pays
    * (hamming bands, minhash bands) — at batch ≪ corpus, AQE broadcasts
    * the batch side instead and the corpus never shuffles at all.
    */
  def sharedSigsAgainstIndex(
      batch: DataFrame,
      path: String,
      idCol: String,
      sigCol: String,
      family: String,
      minShared: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(minShared > 0, s"minShared must be positive: $minShared")
    require(maxBucket.forall(_ > 0), s"maxBucket must be positive: $maxBucket")
    val spark = batch.sparkSession
    IndexMeta.validate(spark, path, Map("kind" -> "sigset", "family" -> family))
    val idx = spark.read.parquet(path)
      .select(col("id").as("iid"), col("sig"))
    val b = batch
      .select(col(idCol).as("bid"), col(sigCol).cast("long").as("sig"))
      .distinct()
      .repartition(spark.sparkContext.defaultParallelism, col("sig"))
    val (bSide, iSide) = maxBucket match {
      case None => (b, idx)
      case Some(cap) =>
        val hot = idx.groupBy(col("sig"))
          .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
          .select(col("sig"))
        (b.join(hot, Seq("sig"), "left_anti"),
          idx.join(hot, Seq("sig"), "left_anti"))
    }
    bSide.join(iSide, Seq("sig"))
      // Self-pair guard (advice r15): the ids-are-new contract can be
      // transiently violated (q98's crash-replay window re-probes a batch
      // whose append already landed) — without this, every such doc pairs
      // with itself at shared = its full signature count.
      .filter(col("bid") =!= col("iid"))
      .groupBy(col("bid").as("d1"), col("iid").as("d2"))
      .agg(count(lit(1)).as("shared")) // distinct by construction both sides
      .filter(col("shared") >= minShared)
  }

  /** Persist a corpus's bit signatures (image dHashes, simhashes) for
    * INCREMENTAL hamming dedup: the artifact
    * [[hammingDedupeAgainstIndex]] probes so that ingesting a new batch
    * never re-DECODES or re-hashes the stored corpus — for images the
    * decode is the dominant cost and the stored hash is 8 bytes/doc.
    * Plain `(id, sig)` parquet layout: the probe consumes the index
    * through a banded equi-JOIN, not a point probe, so a per-(band, bh)
    * directory layout would only manufacture tiny files (the q50 index
    * lesson). Stamped with `sigBits` ([[IndexMeta]]); banding derives
    * from the probe's `maxHamming` via the shared formula, so any
    * threshold can probe one stored artifact.
    */
  def writeHammingIndex(
      sigs: DataFrame,
      path: String,
      idCol: String,
      sigCol: String,
      sigBits: Int): Unit = {
    require(sigBits > 0 && sigBits <= 64, s"sigBits in (0, 64]: $sigBits")
    sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .write.mode("overwrite").parquet(path)
    IndexMeta.write(sigs.sparkSession, path,
      Map("kind" -> "hamming", "sigBits" -> sigBits.toString))
  }

  /** Append an ACCEPTED batch's signatures into the index (validated
    * against the stamp first) — the ingest loop's second half.
    *
    * Caller contract (same as [[appendToMinhashIndex]]): ids must be NEW
    * to the index, and the append is NOT idempotent — an at-least-once
    * ingest loop that may replay a batch needs its own replay guard
    * (e.g. the lake's commitId pattern), because a double-appended id
    * makes every later probe emit its pairs once per copy.
    */
  def appendToHammingIndex(
      sigs: DataFrame,
      path: String,
      idCol: String,
      sigCol: String,
      sigBits: Int,
      compactEvery: Int = 0): Unit = {
    IndexMeta.validate(sigs.sparkSession, path,
      Map("kind" -> "hamming", "sigBits" -> sigBits.toString), heal = true)
    sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .write.mode("append").parquet(path)
    // compactEvery > 0: fold fragments back to a compact layout once the
    // parquet file count exceeds it (same single-writer contract as the
    // append itself; see IndexMeta.compactIfFragmented).
    IndexMeta.compactIfFragmented(sigs.sparkSession, path, compactEvery)
  }

  /** New-batch near-dups against a [[writeHammingIndex]] corpus: both
    * sides band with the shared pigeonhole formula, candidates form only
    * where a band agrees (batch x index equi-join on (band, bh) — never
    * batch x corpus), exact popcount verifies. Returns
    * `(d1 = batch id, d2 = index id, dist)`. `maxBucket` caps HOT index
    * band buckets exactly as in [[hammingNearDupPairs]] (recall stays
    * complete for pairs agreeing on any cold band).
    */
  def hammingDedupeAgainstIndex(
      batchSigs: DataFrame,
      indexPath: String,
      idCol: String,
      sigCol: String,
      sigBits: Int,
      maxHamming: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(sigBits > 0 && sigBits <= 64, s"sigBits in (0, 64]: $sigBits")
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming in [0, $sigBits): $maxHamming")
    require(maxBucket.forall(_ > 0), s"maxBucket must be positive: $maxBucket")
    val spark = batchSigs.sparkSession
    IndexMeta.validate(spark, indexPath,
      Map("kind" -> "hamming", "sigBits" -> sigBits.toString))
    val bandCols = hammingBandCols("sig", sigBits, maxHamming)
    val batch = batchSigs
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
    val idx = spark.read.parquet(indexPath)
    val idxBanded = capHotBands(
      idx.select(col("id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh")),
      maxBucket)
    // The batch side CARRIES its signature through the banding, so the
    // batch pipeline (for images: render/decode/dHash — the dominant
    // cost) evaluates exactly ONCE; only the index parquet (an 8-byte-
    // per-row scan) is read a second time for the verify join. The
    // index side is the big one: pin its partitioning on the join key
    // (the hammingNearDupPairs AQE-coalescing rule); the batch side is
    // small and typically broadcasts.
    val cand = batch
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .as("x")
      .join(idxBanded.repartition(
        spark.sparkContext.defaultParallelism, col("band"), col("bh")).as("y"),
        Seq("band", "bh"))
      .select(col("x.id").as("d1"), col("x.sig").as("h1"), col("y.id").as("d2"))
      .distinct() // h1 is functionally dependent on d1 — distinct stays (d1, d2)
    cand
      .join(idx.select(col("id").as("d2"), col("sig").as("h2")), "d2")
      .withColumn("dist", TextStats.hamming(col("h1"), col("h2")).cast("long"))
      .filter(col("dist") <= maxHamming)
      .select(col("d1"), col("d2"), col("dist"))
  }

  /** Persist a corpus's banded minhash index: the artifact
    * [[dedupeAgainstIndex]] probes so that ingesting a new batch never
    * re-shingles or re-hashes the existing corpus. One narrow pass over
    * the corpus, `bands` rows per doc.
    */
  def writeMinhashIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxDf: Int = Int.MaxValue): Unit = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    bandedFromShingles(capDfAnti(shingles(docs, idCol, textCol, n), maxDf), idCol, numHashes, bands)
      .repartition(col("band")) // one file per band dir (see writeAnnIndex)
      .write.mode("overwrite").partitionBy("band").parquet(path)
    IndexMeta.write(docs.sparkSession, path, minhashMeta(n, numHashes, bands, maxDf))
  }

  /** Probing with different shingle/hash/band parameters than the build
    * joins incompatible hash spaces — silent recall loss. Stamped on the
    * artifact; validated by every consumer (see [[IndexMeta]]).
    *
    * `maxDf` is part of the stamp: an index built from capped shingle
    * sets produces different signatures than an uncapped build, so a
    * probe with a different cap is the same silent-recall-loss bug. The
    * cap's df population is PER INGESTION UNIT (the whole corpus at
    * build, each batch at append/probe, the candidate set at verify) —
    * the approximation that lets the incremental path work without a
    * corpus-wide df table, which is the one piece of global state this
    * path exists to avoid. Choose `maxDf` well above any real batch
    * size-dependent df so the unit populations agree on what is "hot".
    */
  private def minhashMeta(n: Int, numHashes: Int, bands: Int, maxDf: Int): Map[String, String] =
    Map(
      "kind" -> "minhash",
      "shingle" -> n.toString,
      "numHashes" -> numHashes.toString,
      "bands" -> bands.toString,
      "maxDf" -> maxDf.toString)

  /** Append a (deduplicated) batch's bands to an existing
    * [[writeMinhashIndex]] artifact — the accept step of the incremental
    * ingestion loop: [[dedupeAgainstIndex]] the batch, drop the
    * duplicates, append the survivors so the next batch dedups against
    * them too. Caller contract: ids must be new to the index.
    */
  def appendToMinhashIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxDf: Int = Int.MaxValue,
      compactEvery: Int = 0): Unit = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    IndexMeta.validate(docs.sparkSession, path, minhashMeta(n, numHashes, bands, maxDf), heal = true)
    bandedFromShingles(
        capDfAnti(shingles(docs, idCol, textCol, n), maxDf), idCol, numHashes, bands)
      .repartition(col("band")) // one appended file per band dir
      .write.mode("append").partitionBy("band").parquet(path)
    IndexMeta.compactIfFragmented(docs.sparkSession, path, compactEvery)
  }

  /** INCREMENTAL dedup — near-dup pairs between an incoming `batch` and an
    * already-indexed corpus (the 100 TB ingestion shape: the corpus index
    * is a stored artifact; per batch, only the batch is shingled/hashed
    * plus the handful of candidate corpus docs needed for exact verify):
    *
    *  1. batch side: one shingle pass → signatures → banded index;
    *  2. candidates: (band, bh) equi-join of the small batch index against
    *     the stored corpus index — Spark broadcasts the batch side when it
    *     fits, so the corpus index is never shuffled;
    *  3. verify: exact Jaccard, with corpus shingle sets rebuilt ONLY for
    *     candidate docs (cost ∝ candidates, not corpus).
    *
    * Returns `(d1 = batch id, d2 = corpus id, c, na, nb, jac)` for pairs
    * with Jaccard >= num/den. Same hashes/bands as [[minhashVerifiedPairs]]
    * — recall characteristics carry over unchanged.
    */
  def dedupeAgainstIndex(
      batch: DataFrame,
      corpusDocs: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      num: Int = 1,
      den: Int = 2,
      maxDf: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    // maxDf is stamped on the artifact (see minhashMeta): probing with a
    // different cap than the build joins incompatible minhash spaces.
    IndexMeta.validate(batch.sparkSession, indexPath, minhashMeta(n, numHashes, bands, maxDf))
    // One batch shingle subplan feeds signatures AND verify sets (AQE
    // stage reuse — see jaccardPairs). The df cap applies within the BATCH
    // shingle space here and within the candidate-corpus space at verify —
    // per-unit populations, the no-global-state approximation documented
    // on minhashMeta.
    val bsh = capDfAnti(shingles(batch, idCol, textCol, n), maxDf)
    val bIdx = bandedFromShingles(bsh, idCol, numHashes, bands)
    val cIdx = batch.sparkSession.read.parquet(indexPath)
    val cand = bIdx.as("b")
      .join(cIdx.as("c"), col("b.band") === col("c.band") && col("b.bh") === col("c.bh"))
      .select(col(s"b.$idCol").as("d1"), col(s"c.$idCol").as("d2"))
      .distinct()
    val bSets = bsh.groupBy(col(idCol)).agg(collect_set(shingleHash).as("s1"))
      .withColumnRenamed(idCol, "d1")
    // Re-shingle ONLY the candidate corpus docs (bounded by candidate count).
    val candCorpus = corpusDocs.join(
      cand.select(col("d2")).distinct().withColumnRenamed("d2", idCol), Seq(idCol))
    // Same cap as the batch side, so the verify Jaccard is symmetric
    // (capped s1 vs capped s2) — df counted within the candidate set.
    val cSets = capDfAnti(shingles(candCorpus, idCol, textCol, n), maxDf)
      .groupBy(col(idCol)).agg(collect_set(shingleHash).as("s2"))
      .withColumnRenamed(idCol, "d2")
    cand.join(bSets, "d1").join(cSets, "d2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("na", size(col("s1")))
      .withColumn("nb", size(col("s2")))
      .filter(col("c") * den >= (col("na") + col("nb") - col("c")) * num)
      .select(
        col("d1"), col("d2"), col("c"), col("na"), col("nb"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double")).as("jac"))
  }

  /** LSH candidates verified with exact Jaccard (computed per candidate
    * pair via `array_intersect` on the two shingle sets — no inverted-index
    * join, no cross join).
    *
    * `maxDf` applies [[capDf]] to the verify sets (and the signatures fed
    * by the same capped shingle set), so with the same cap this computes
    * the IDENTICAL metric to [[jaccardPairs]] — required for the two paths
    * to share an oracle — and a viral shingle cannot bloat the per-doc
    * `collect_set` payloads shipped through the verify join either.
    */
  def minhashVerifiedPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      num: Int = 1,
      den: Int = 2,
      maxDf: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    // One shingle subplan feeds signature building AND the exact
    // verification sets — the distinct shuffle is shared via AQE stage
    // reuse (see jaccardPairs).
    val sh = capDfAnti(shingles(docs, idCol, textCol, n), maxDf)
    val cand = candidatesFromShingles(sh, idCol, numHashes, bands)
    val sets = sh
      .groupBy(col(idCol)).agg(collect_set(shingleHash).as("sset"))
    cand
      .join(sets.select(col(idCol).as("d1"), col("sset").as("s1")), "d1")
      .join(sets.select(col(idCol).as("d2"), col("sset").as("s2")), "d2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("na", size(col("s1")))
      .withColumn("nb", size(col("s2")))
      .filter(col("c") * den >= (col("na") + col("nb") - col("c")) * num)
      .select(
        col("d1"), col("d2"), col("c"), col("na"), col("nb"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double")).as("jac"))
  }

  /** Dedup GROUP assignment — connected components over a near-dup pair
    * list (`d1`, `d2` columns, any of [[jaccardPairs]] /
    * [[minhashVerifiedPairs]] / [[simhashNearDupPairs]]): every document
    * gets `group_id` = the smallest doc id reachable through near-dup
    * edges (docs in no pair are their own singleton group). This is the
    * step after pair detection in a training-data pipeline: keep one doc
    * per group, drop the rest.
    *
    * Distributed min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors — one shuffle per round
    * (edge-label join + groupBy), labels persisted per round and the
    * previous round unpersisted (iterative algorithms are the case where
    * materialization IS warranted: every round is a NEW plan shape, and
    * without it lineage re-evaluates all prior rounds). Rounds needed =
    * the largest component's min-label eccentricity; near-dup components
    * are dense and tiny (duplicates of one source doc), so this converges
    * in 2-3 rounds in practice — `maxIters` bounds adversarial chains,
    * and convergence is detected exactly (a count of changed labels per
    * round). At 100 TB the per-round cost is one shuffle of (node, label)
    * pairs joined against the edge list — no component is ever
    * materialized on one machine.
    *
    * Round-packing was MEASURED AND REJECTED (r11, both the r9 verdict's
    * two-hops-per-round and a label(label(u)) pointer jump): at sf0.1
    * each deepened round's extra joins/aggs cost ~3× more wall than the
    * saved scheduling round-trips — q62 4.7-5.6 s single-hop vs 16-17 s
    * for either variant, well outside the host noise band (BASELINE.md
    * r11). The per-round job here is NOT latency-bound: its stages are
    * real shuffle work that packing duplicates (the first hop's plan is
    * re-evaluated by both second-hop consumers).
    *
    * The returned DataFrame is backed by the final round's persisted
    * labels; callers that keep it long-term should `.unpersist()` via
    * `spark.sharedState`/catalog cache tooling or write it out.
    */
  def dupGroups(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .persist()
    // Only edge-touched nodes can ever change label: iterate over THEM
    // (usually a tiny fraction of the corpus — near-dup components), and
    // attach the untouched singletons with one final left join.
    var labels = edges.select(col("u").cast("long").as("u")).distinct()
      .withColumn("label", col("u"))
      .persist()
    try {
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("u").as("v"), col("label").as("nl")), "v")
          .groupBy("u").agg(min(col("nl")).as("nmin"))
        // Carry the previous label through the round so convergence is one
        // filter over the (persisted) round output, not an extra join.
        val next = labels.withColumnRenamed("label", "_old")
          .join(nbrMin, Seq("u"), "left")
          .select(col("u"), col("_old"),
            least(col("_old"), coalesce(col("nmin"), col("_old"))).as("label"))
          .persist()
        val changes = next.filter(col("label") =!= col("_old")).count()
        labels.unpersist(blocking = false)
        labels = next.drop("_old")
        converged = changes == 0
        it += 1
      }
      // A silent exit here would return WRONG groups (labels still
      // propagating) — dedup decisions ride on this, so fail loudly.
      if (!converged) throw new IllegalStateException(
        s"dupGroups did not converge within $maxIters rounds — the pair " +
          "graph has a min-label path longer than maxIters; raise maxIters " +
          "(rounds needed = the largest component's min-label eccentricity)")
      docs.select(col(idCol).cast("long").as(idCol)).distinct()
        .join(labels.withColumnRenamed("u", idCol), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("label"), col(idCol)).as("group_id"))
    } finally edges.unpersist(blocking = false)
  }

  /** Survivor selection — the "keep one" half of near-dup removal: one
    * canonical doc per [[dupGroups]] component, chosen by a deterministic
    * total order (`rankBy` columns over the doc's own attributes, then
    * `idCol` ascending as the final tiebreak). Emits every doc with its
    * `group_id` and a BIGINT `keep` flag (1 = canonical or singleton,
    * 0 = discarded duplicate), so callers can either filter the corpus or
    * audit what was dropped.
    *
    * Scale shape: the ranking window runs over DUP-COMPONENT members
    * only. Multi-doc group ids are exactly the labels some non-min member
    * carries (`group_id != id`) — a set ∝ near-dup density, not corpus
    * size — so the corpus is split with two joins against that small set
    * (AQE broadcasts them) and singletons are flagged keep=1 without ever
    * entering a window. Nothing reshuffles the full corpus on `group_id`.
    */
  def canonicalDocs(
      docs: DataFrame,
      pairs: DataFrame,
      rankBy: Seq[org.apache.spark.sql.Column],
      idCol: String = "doc_id",
      maxIters: Int = 20,
      allColumns: Boolean = false): DataFrame = {
    val groups = dupGroups(docs, pairs, idCol, maxIters)
    val joined = docs.withColumn(idCol, col(idCol).cast("long"))
      .join(groups, Seq(idCol))
    val multi = groups.filter(col("group_id") =!= col(idCol))
      .select("group_id").distinct()
    val w = Window.partitionBy("group_id")
      .orderBy(rankBy :+ col(idCol).asc: _*)
    val ranked = joined.join(multi, Seq("group_id"), "left_semi")
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
    val singles = joined.join(multi, Seq("group_id"), "left_anti")
      .withColumn("keep", lit(1L))
    val out = ranked.unionByName(singles)
    // allColumns (r17): downstream pipeline stages (scrub, filter, split,
    // pack — q105) consume the survivor PAYLOAD; re-joining docs on the
    // id to recover it would add a whole extra exchange the union
    // already carries for free.
    if (allColumns) out
    else out.select(col(idCol), col("group_id"), col("keep"))
  }

  /** C4-style exact BLOCK dedup with document RECONSTRUCTION: the corpus
    * is cut into disjoint `k`-word blocks (the last block may be short),
    * every block whose exact text already appeared earlier in the corpus
    * — globally, ordered by `(id, block_idx)` — is removed, and each
    * document is rebuilt from its surviving blocks. This is the
    * *removal* counterpart of [[spanStats]] (which only measures): C4's
    * pipeline drops repeated three-sentence spans keeping the first
    * occurrence, so boilerplate (headers, license blocks, navigation)
    * survives exactly once corpus-wide instead of millions of times.
    *
    * Output: one row per input document —
    * `(id, n_blocks, n_kept, clean_text)` where `clean_text` is the
    * space-joined surviving blocks (empty when every block was a repeat).
    *
    * Scale shape: blocks ship as the 120-bit md5 fingerprints of
    * [[spanStats]] ([[SpanFpCols]]' global-population collision budget);
    * the keep-first winner is one `row_number` window partitioned by
    * fingerprint over `(id, block_idx, fp)` rows — block TEXT never
    * crosses an exchange. Survivor positions regroup per doc as plain
    * ints, and reconstruction re-derives the block strings doc-locally
    * from the original `textCol` (one more scan-stage HOF, no string
    * shuffle). Nothing is ever corpus² and nothing collects.
    */
  def blockDedup(
      docs: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"block length must be >= 1 word: $k")
    val ws = col("_ws")
    val nBlocks = floor((size(ws) + lit(k - 1)) / lit(k)).cast("int")
    def blockAt(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", slice(ws, b * lit(k) + lit(1), lit(k)))
    // (id, bidx, fp1, fp2) — fingerprints taken codegen'd AFTER the
    // explode (the spanFingerprints lesson); the two md5 calls share one
    // evaluation via codegen subexpression elimination.
    val blocks = docs
      .withColumn("_ws", split(col(textCol), " "))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), nBlocks - lit(1)), blockAt(_))))
      .select(
        col(idCol), col("pos").as("bidx"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long").as("fp1"),
        conv(substring(md5(col("col")), 16, 15), 16, 10).cast("long").as("fp2"))
    val keepFirst = Window.partitionBy(SpanFpCols.map(col): _*)
      .orderBy(col(idCol), col("bidx"))
    val kept = blocks
      .withColumn("_rn", row_number().over(keepFirst))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("bidx"))).as("_kept"))
    docs
      .join(kept, Seq(idCol), "left")
      .withColumn("_ws", split(col(textCol), " "))
      .select(
        col(idCol),
        nBlocks.cast("long").as("n_blocks"),
        coalesce(size(col("_kept")), lit(0)).cast("long").as("n_kept"),
        array_join(
          transform(coalesce(col("_kept"), array().cast("array<int>")), blockAt(_)),
          " ").as("clean_text"))
  }
}
