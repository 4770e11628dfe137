package graft.ext

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for LLM training-data pipelines (north-star
  * extension; SURVEY.md §2.10): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: the only O(n²) step anywhere is the *verification of
  * candidate pairs*, and candidates are generated by LSH banding / chunk
  * bucketing — an equi-join on (band, hash), which Spark shuffles by key.
  * At 100 TB the cost is: one scan to build signatures (no shuffle; all
  * signature math is per-row HOF expressions), one shuffle to bucket, and a
  * candidate join whose size is governed by the band parameters, never by
  * n². The exact-Jaccard path is deliberately restricted to sampled subsets
  * (it explodes shingles) and exists for verification/oracle use.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by normalized-text fingerprint: one hash-shuffle groupBy.
    * Keeps min(id) per group — deterministic, unlike dropDuplicates.
    * Output: keep_id, dup_cnt, fp.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.sources.Tables.spread(docs)
      .groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt", "fp")

  /** Incremental exact dedup — the production shape: a NEW batch is
    * deduped against the existing corpus WITHOUT re-deduping the corpus.
    * `knownFps` is the corpus fingerprint set (persist it once; it is one
    * narrow column). Within-batch duplicates resolve to min(id) first,
    * then batch survivors carrying a known fingerprint are dropped via
    * one anti-join. Cost per batch: O(|batch|) + an anti-join against the
    * fingerprint set — never a rescan of the corpus text.
    * Output: the surviving rows of `batch`.
    */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String, knownFps: DataFrame): DataFrame = {
    val fpCol = knownFps.columns.head
    val withFp = batch.withColumn("__fp", fingerprint(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp")).orderBy(col(idCol))
    withFp
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(knownFps.select(col(fpCol).as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp", "__rn")
  }

  /** Line-level global dedup, C4-style: every distinct LINE is kept only
    * at its first occurrence corpus-wide (first = smallest (doc, position)),
    * and documents are reassembled from their surviving lines. This is the
    * sub-document cousin of [[exact]]: C4 removes any three-sentence span
    * seen before; here the unit is a caller-supplied line split (`linesCol`
    * must evaluate to array<string> — '\n' splits for real corpora).
    *
    * Plan: posexplode → ONE hash shuffle on the line value (window ranked
    * by (doc, pos) — partitioned by line, never a global window) → groupBy
    * doc to reassemble. Docs whose every line was seen before survive with
    * empty text (left join back to the input), so the output is total over
    * the input and n_total − n_kept is the per-doc removal accounting.
    */
  def lineDedup(docs: DataFrame, idCol: String, linesCol: Column, joiner: String = "\n"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("line")).orderBy(col(idCol), col("pos"))
    val kept = graft.sources.Tables.spread(docs.select(col(idCol), linesCol.as("__lines")))
      .select(col(idCol), posexplode(col("__lines")).as(Seq("pos", "line")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), joiner).as("kept_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol), size(linesCol).as("n_total"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_total"))
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a text column, as an array. Native
    * codegen kernel ([[graft.functions.WordNgrams]]) + array_distinct —
    * per-row, no explode, no shuffle.
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(graft.functions.WordNgrams.wordNgrams(tokens(text), n))

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signature: component i = min over shingles of
    * xxhash64(seed=i, shingle). All `numHashes` components are computed in
    * one projection (array_min over a transform) — signature construction
    * is scan-speed, shuffle-free.
    */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column = {
    val sh = shingles(text, n)
    array((0 until numHashes).map(i => array_min(transform(sh, s => xxhash64(lit(i), s)))): _*)
  }

  /** MinHash/LSH near-duplicate pairs.
    *
    * bands × rowsPerBand = numHashes. A pair lands in the same bucket of
    * some band with probability 1-(1-j^r)^b for true Jaccard j — the
    * classic S-curve. Output: doc_a, doc_b, est_jaccard (fraction of equal
    * signature components), filtered to est_jaccard >= threshold.
    */
  /** Banded signature table — THE persistable LSH index: doc_id, full
    * signature, and one (band, bandhash) row per band. Signature via the
    * native MinHashSig expression: the whole signature per row in one
    * fused loop — a pure projection, no explode, no aggregate, no
    * shuffle, and cheap enough that consumers just recompute it instead
    * of forcing a cache lifecycle. (History: per-row HOF tower →
    * interpreted, slowest; explode + numHashes min-aggregates →
    * codegen'd but one shuffle + cache; native expression → scan-speed.
    * Bit-identical signatures in all three, pinned by DedupSpec.)
    *
    * The band hash per (doc, band) is xxhash64 over the band's slice of
    * the sig. The signature rides along, so candidate pairs already
    * carry both sigs and no join back to the signature table is needed
    * (the sig subplan is a cheap projection, but at 100 TB two fewer
    * joins is two fewer shuffles of the whole corpus).
    */
  private[ext] def bandedSigs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = graft.sources.Tables.spread(docs)
      .select(
        col(idCol).as("doc_id"),
        graft.functions.MinHashSig.minhashSig(shingles(col(textCol), n), numHashes).as("sig"))
    sigs.select(
      col("doc_id"),
      col("sig"),
      posexplode(
        array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)).as(Seq("band", "bh")))
  }

  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    val banded = bandedSigs(docs, idCol, textCol, n, bands, rowsPerBand)

    val a = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val candidates = a
      .join(b, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b") // a pair can collide in several bands; keep one
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))

    val eq = zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0))
    candidates
      .withColumn(
        "est_jaccard",
        round(
          aggregate(eq, lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble), 4))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Near-dup pairs between an A side and a B side of banded signatures,
    * normalized to (doc_a < doc_b) via least/greatest so delta-vs-corpus
    * joins (where either orientation can occur) emit each pair exactly
    * once. Same scoring as [[minhashLsh]]: est_jaccard = equal-component
    * fraction of the full signatures, thresholded.
    */
  private[ext] def lshPairsBetween(
      aSide: DataFrame, bSide: DataFrame, numHashes: Int, threshold: Double): DataFrame = {
    val a = aSide.select(col("band"), col("bh"), col("doc_id").as("da"), col("sig").as("sa"))
    val b = bSide.select(col("band"), col("bh"), col("doc_id").as("db"), col("sig").as("sb"))
    val cand = a.join(b, Seq("band", "bh"))
      .filter(col("da") =!= col("db"))
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("sa")).otherwise(col("sb")).as("sig_a"),
        when(col("da") < col("db"), col("sb")).otherwise(col("sa")).as("sig_b"))
      .groupBy("doc_a", "doc_b")
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
    val eq = zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0))
    cand
      .withColumn("est_jaccard",
        round(aggregate(eq, lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble), 4))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Incremental MinHash/LSH index maintenance: at 100 TB a delta batch
    * must NOT re-shingle the corpus — signatures depend only on the
    * document, so the banded signature table persisted at base-build
    * time ([[bandedSigs]]) IS the index, and an append computes only the
    * delta's signatures and joins them against (persisted ∪ delta)
    * bands: delta-sized scan work, zero base text I/O. This report
    * proves the invariant that makes that sound:
    * pairs(delta, base ∪ delta) ≡ pairs(base ∪ delta) restricted to
    * pairs touching a delta doc — verified by a full-outer compare of
    * the incrementally-found pairs against a from-scratch rebuild.
    * Output: n_delta, has_pairs, match_full.
    */
  def minhashLshIncrementalReport(
      base: DataFrame, delta: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    val bBase = bandedSigs(base, idCol, textCol, n, bands, rowsPerBand)
    val bDelta = bandedSigs(delta, idCol, textCol, n, bands, rowsPerBand)
    val bAll = bBase.unionByName(bDelta)
    val inc = lshPairsBetween(bDelta, bAll, numHashes, threshold)
    val deltaIds = delta.select(col(idCol).as("did"))
    val rebuilt = lshPairsBetween(bAll, bAll, numHashes, threshold)
      .join(broadcast(deltaIds),
        col("doc_a") === col("did") || col("doc_b") === col("did"), "left_semi")
    inc.withColumnRenamed("est_jaccard", "ei")
      .join(rebuilt.withColumnRenamed("est_jaccard", "er"),
        Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(lit(1)).as("__n"),
        sum(when(col("ei").isNull || col("er").isNull || col("ei") =!= col("er"), 1L)
          .otherwise(0L)).as("__mism"))
      .crossJoin(broadcast(delta.agg(count(lit(1)).as("n_delta"))))
      .select(col("n_delta"), (col("__n") > 0).as("has_pairs"),
        (coalesce(col("__mism"), lit(0L)) === 0).as("match_full"))
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token bag: per token, xxhash64 contributes +1/-1
    * to each bit position; bit i of the result is sign(sum_i). One
    * `aggregate` pass with an array<int> accumulator — per-row, no shuffle.
    */
  def simhash(text: Column): Column = {
    val bitsOf: Column => Column = t =>
      transform(sequence(lit(0), lit(63)),
        i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
    val sums = aggregate(
      tokens(text),
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, t) => zip_with(acc, bitsOf(t), (a, b) => a + b)
    )
    aggregate(
      zip_with(sums, sequence(lit(0), lit(63)),
        (s, i) => when(s >= 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v)
    )
  }

  /** DataFrame-level SimHash: same bit semantics as [[simhash]], computed
    * by the native [[graft.functions.SimHash64]] expression — whole
    * signature per row inside codegen, so signature construction is a pure
    * map at scan speed (no explode, no aggregate, no shuffle; the earlier
    * explode + 64-conditional-sum form shuffled every token).
    * Output: doc_id, sh.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(
        col(idCol).as("doc_id"),
        graft.functions.SimHash64.simhash64(tokens(col(textCol))).as("sh"))

  /** Near-dup pairs at Hamming distance <= maxHamming over ANY 64-bit
    * signature column (SimHash, perceptual image dHash, …) via the
    * pigeonhole band-join: with 4 16-bit chunks, any two signatures
    * within Hamming 3 agree on at least one chunk, so candidate
    * generation is an equi-join on (chunkIdx, chunkVal) — ONE hash
    * shuffle on the chunk key, never a cross product. `sigs` must carry
    * `idCol` and `sigCol` (a Long). Output: doc_a, doc_b, hamming.
    */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 chunks pigeonhole-guarantee completeness only up to Hamming 3")
    val chunked = sigs.select(
      col(idCol).as("doc_id"),
      col(sigCol).as("sh"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col(sigCol), c * 16).bitwiseAND(lit(0xffffL))): _*)).as(Seq("chunk", "cv"))
    )
    val a = chunked.select(col("chunk"), col("cv"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("cv"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // filter BEFORE dedup: the candidate
      .distinct()                           // set is large, the survivors few
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming —
    * [[hammingPairs64]] over [[simhashSignatures]].
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    hammingPairs64(simhashSignatures(docs, idCol, textCol), "doc_id", "sh", maxHamming)

  // ------------------------------------------------- exact n-gram Jaccard

  /** Exact n-gram Jaccard similarity between all pairs of the given docs.
    * O(pairs-sharing-a-shingle) via shingle equi-join — still quadratic in
    * the worst case, so callers must pre-sample (this is the
    * verification/oracle path; the scale path is [[minhashLsh]]).
    * Output: doc_a, doc_b, jaccard (rounded 4).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    // cache the exploded shingles: both sides of the self-join and the size
    // table derive from it, and Spark won't reuse non-identical subplans
    val withSh = graft.sources.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh")).localCheckpoint()
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val exploded = withSh.select(col("doc_id"), explode(col("sh")).as("shingle")).localCheckpoint()
    val a = exploded.select(col("shingle"), col("doc_id").as("doc_a"))
    val b = exploded.select(col("shingle"), col("doc_id").as("doc_b"))
    val shared = a
      .join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), "doc_b")
      .withColumn(
        "jaccard",
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram CONTAINMENT pairs: C(a→b) = |S(a) ∩ S(b)| / |S(a)| —
    * Broder's asymmetric cousin of Jaccard. Catches the near-dup class
    * Jaccard structurally misses: a short document embedded verbatim in a
    * much longer one (quote inclusion, article + wrapper page) has
    * C(short→long) ≈ 1 while J = |∩|/|∪| stays low because the union is
    * dominated by the long side. Emits ORDERED pairs (doc_a ⊆ doc_b), both
    * scores, so callers see the asymmetry.
    *
    * Same explode/equi-join shape and scale contract as
    * [[ngramJaccardPairs]]: O(pairs-sharing-a-shingle) — this is the
    * verification/oracle path over pre-sampled or pre-bucketed sets; at
    * corpus scale generate candidates with [[minhashLsh]] (or mask embedded
    * runs directly with [[maskRepeatedSpans]]) first.
    * Output: doc_a, doc_b, containment, jaccard (rounded 4).
    */
  def ngramContainmentPairs(
      docs: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    // cache the exploded shingles: both join sides and the size table
    // derive from it (Spark won't reuse non-identical subplans)
    val withSh = graft.sources.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh")).localCheckpoint()
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val exploded = withSh.select(col("doc_id"), explode(col("sh")).as("shingle")).localCheckpoint()
    val a = exploded.select(col("shingle"), col("doc_id").as("doc_a"))
    val b = exploded.select(col("shingle"), col("doc_id").as("doc_b"))
    val shared = a
      .join(b, "shingle")
      .filter(col("doc_a") =!= col("doc_b")) // ordered: keep both directions
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), "doc_b")
      .withColumn("containment", round(col("shared").cast("double") / col("na").cast("double"), 4))
      .withColumn(
        "jaccard",
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment", "jaccard")
  }

  /** Prefix-filtered EXACT Jaccard join (AllPairs, Bayardo et al. 2007;
    * the candidate-pruning half of PPJoin) — same output as
    * [[ngramJaccardPairs]], structurally smaller candidate set.
    *
    * The inverted-index self-join above pairs every two docs sharing ANY
    * shingle; at a high threshold almost all of those pairs verify false.
    * Prefix filtering exploits a global token order (here: ascending
    * document frequency, ties by shingle — rarest first, so prefixes land
    * on the least-shared tokens): a pair with J ≥ t must share at least
    * ⌈t·|S|⌉ shingles, so if S's first |S| − ⌈t·|S|⌉ + 1 shingles (in the
    * global order) contain none of the match, too few shingles remain —
    * contradiction. Hence indexing ONLY each doc's prefix still finds
    * every qualifying pair, and the equi-join fan-out drops from
    * O(df²) per shingle to O(df_prefix²). A size filter
    * (min ≥ t·max, implied by J ≥ t) prunes further before verification.
    *
    * Verification is exact: candidates join back to the full shingle
    * arrays and compute true |∩| via array_intersect — the result set is
    * IDENTICAL to [[ngramJaccardPairs]] at the same (n, threshold), which
    * is how the spec and the SQL oracle gate it. Candidate-set shrinkage
    * vs the full inverted index is asserted by PrefixJoinSpec.
    *
    * Scale contract: df table and per-doc ranking are shingle-table-sized
    * aggregations/windows (window partitioned BY DOC — bounded rows per
    * partition key); the join carries prefix tokens only; verification
    * cost is O(candidates). `threshold` should be exactly representable
    * in binary (0.5, 0.25, 0.75) so the size/prefix arithmetic is
    * bit-identical across engines.
    * Output: doc_a, doc_b, jaccard (rounded 4) — pairs with J ≥ t.
    */
  def prefixJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSh = graft.sources.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh")).localCheckpoint()
    // candidate generation runs at a slightly LOWER threshold than the
    // final rounded-4 compare: a pair with true J just below t can still
    // ROUND to t (the brute path keeps it), and the prefix theorem only
    // covers true J >= tGen — the 5e-5 margin spans the rounding band.
    // One-sided: a lower tGen only ADDS candidates, never loses one.
    val tGen = threshold - 5e-5
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val exploded = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfreq = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = exploded.join(dfreq, "shingle")
      .withColumn("rk",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .join(sizes, "doc_id")
      // prefix length |S| - ceil(tGen*|S|) + 1
      .filter(col("rk") <= col("nsh") - ceil(lit(tGen) * col("nsh")) + 1)
      .select(col("shingle"), col("doc_id"), col("nsh"))
      .localCheckpoint() // both sides of the candidate self-join
    // spread: verification is the CPU-heavy step (a set-intersection per
    // candidate), and after the distinct AQE coalesces the tiny-BYTES pair
    // list to one partition — the classic CPU-heavy/small-bytes blind spot
    // — serializing the whole verify pass onto one core. Fan it to core
    // count (Tables.spread's documented purpose).
    val cands = graft.sources.Tables.spread(
      ranked.select(col("shingle"), col("doc_id").as("doc_a"), col("nsh").as("na"))
        .join(ranked.select(col("shingle"), col("doc_id").as("doc_b"), col("nsh").as("nb")), "shingle")
        .filter(col("doc_a") < col("doc_b"))
        .filter(least(col("na"), col("nb")).cast("double") >=
          lit(tGen) * greatest(col("na"), col("nb")).cast("double"))
        .select("doc_a", "doc_b").distinct())
    // fused kernel: the optimizer inlines the threshold filter into the
    // join condition, so the Column form evaluated array_intersect up to
    // 4x per pair; JaccardShingles computes the identical rounded-4 value
    // (DedupSpec pins bit-parity) without materializing the intersection
    cands
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard",
        graft.functions.JaccardShingles.jaccardShingles(col("sha"), col("shb")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ------------------------------------- near-dup cluster resolution (CC)

  /** Connected components over a near-dup pair list: every document gets
    * the MINIMUM doc id of its transitive duplicate cluster — the canonical
    * "which copy do we keep" resolution step that follows any pairwise
    * near-dup detector (minhashLsh / simhashPairs / ngramJaccardPairs).
    *
    * Realization: alternating large-star/small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond"), which
    * converges in O(log²·) rounds of the component size — independent of
    * graph DIAMETER, so an adversarial million-hop chain finishes in ~20
    * rounds where per-hop min-label propagation (the round-3 form) needed
    * a round per hop. Near-dup graphs are shallow and finish in 2–3 rounds
    * either way; the star form removes the pathological tail.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors and itself to
    *    the minimum of its smaller neighborhood.
    *
    * Both steps are a groupBy-min plus a join on the same key — the
    * exchange is planned once and reused, and no step ever materializes a
    * neighbor LIST (the min-id hub of a big component would hold the whole
    * component in one row), so rows stay O(1) wide at any scale.
    *
    * Each round runs as ONE job: the round's edge set is lazily
    * localCheckpoint'ed and materialized by the convergence aggregate —
    * (count, XOR of xxhash64(src,dst)) — which detects a stable edge set
    * without a join back to the previous round. (XOR over the DISTINCT
    * edge set is order-independent and can't overflow under ANSI mode; a
    * collision declaring false convergence needs two different edge sets
    * of equal size with coinciding 64-bit folds — negligible against the
    * cluster-failure floor.) At the fixpoint the edges form disjoint
    * stars centered on each component's minimum.
    *
    * Output: id, cluster_id (cluster_id = min id in the component).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    // canonical edge direction: src >= dst, dedup'd, eagerly checkpointed:
    // the upstream pair miner is traversed exactly ONCE — both the node
    // inventory and round 1 read the tiny checkpoint instead of dragging
    // the miner lineage through every downstream DAG (measured 4 s of the
    // old 6 s at sf0.1).
    val canon = pairs
      .select(greatest(col(aCol), col(bCol)).as("src"), least(col(aCol), col(bCol)).as("dst"))
      .distinct()
      .localCheckpoint(eager = true)
    val nodes = canon.select(col("src").as("id"))
      .unionByName(canon.select(col("dst").as("id")))
      .distinct()
    val init = canon.filter(col("src") =!= col("dst"))

    // large-star: for each u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀ v∈Γ(u), v>u.
    // Output stays canonical: v > u ≥ m. NOT dedup'd — duplicates (one per
    // (v, u) pair sharing a min) are bounded by one round's fan-in over a
    // distinct input and are swept by smallStar's terminal distinct, which
    // is one exchange cheaper than deduping both half-rounds.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), least(col("mn"), col("u")).as("dst"))
    }
    // small-star: for each u over its smaller neighbors Γ⁻(u), m = min(Γ⁻(u));
    // emit (v, m) ∀ v∈Γ⁻(u) plus (u, m). Input/output canonical. The
    // terminal distinct is what each round's materialized edge set needs
    // (the XOR signature needs a set, and duplicate growth must be swept);
    // both star maps are insensitive to input duplicates (groupBy-mins
    // ignore multiplicity, outputs are set-equal), so no other dedup runs.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min(col("dst")).as("mn"))
      e.join(mins, "src")
        .select(col("dst").as("src"), col("mn").as("dst"))
        .unionByName(mins.select(col("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // ONE round per materialization. Round-pair fusion (two star rounds
    // per lineage cut) was tried in the round-15 optimization pass and
    // MEASURED SLOWER (x_cc_incremental 4.2 → 8.6-11.2 s, jobs 98 → 119+):
    // the per-round exchanges scale with star rounds COMPUTED, not with
    // materializations, and pair-level convergence detection computes up
    // to two extra (whole, exchange-bearing) rounds — more than the one
    // agg+result job per materialization that fusion saves. Skipping the
    // mid-pair distinct made it worse still (duplicate fan-in through the
    // second largeStar's join doubled task time).
    var cur = init
    var prev: Option[(Long, Long)] = None
    var i = 0
    var converged = false
    while (!converged && i <= maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = false)
      val row = next.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
      val sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      converged = prev.contains(sig)
      prev = Some(sig)
      cur = next
      i += 1
    }
    // fail loudly rather than return partially-contracted labels
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter star rounds — raise maxIter " +
        s"(rounds grow with log² of the largest component, not diameter)")
    // fixpoint = disjoint stars: each non-center node carries exactly one
    // edge to its component min; centers label themselves
    nodes
      .join(cur.select(col("src").as("id"), col("dst").as("cid")), Seq("id"), "left")
      .groupBy("id").agg(min(col("cid")).as("cid"))
      .select(col("id"), coalesce(col("cid"), col("id")).as("cluster_id"))
  }

  // ------------------------------------ repeated-span masking (ExactSubstr)

  /** Mask every token covered by an `n`-token span that occurs verbatim in
    * >= `minDocs` DISTINCT documents — substring-level exact dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better": the
    * ExactSubstr variant, realized with shingle hashing instead of a suffix
    * array, which distributes). Unlike document-level dedup this removes
    * boilerplate runs EMBEDDED in otherwise-unique documents.
    *
    * Scale design: span hashes (48-bit md5 prefix — oracle-portable, and at
    * ~1e-7 collision odds over 1e4 spans a collision only over-masks one
    * span) are a per-row projection; the only corpus exchange is the
    * doc-frequency aggregation over DISTINCT per-doc hashes (map-side
    * combined). The hot set — actual cross-document boilerplate, small by
    * construction — broadcasts back; each doc rebuilds itself from its own
    * hit list with per-row HOFs. Corpus text never shuffles. Per-row rebuild
    * cost is O(tokens × doc's-own-hot-starts) — linear in corpus size.
    *
    * Output: input columns + n_tokens, n_masked, with `textCol` rebuilt
    * from the uncovered tokens in order.
    */
  def maskRepeatedSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int, minDocs: Int = 2): DataFrame = {
    require(n > 1, s"span length must be > 1, got $n")
    val spanHash: Column => Column = s => conv(substring(md5(s), 1, 12), 16, 10).cast("long")
    def hashesOf(text: Column): Column = {
      val toks = tokens(text)
      // guard: sequence(1, 0) runs DESCENDING in Spark — short docs get []
      when(size(toks) < n, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => spanHash(concat_ws(" ", slice(toks, i, lit(n))))))
    }
    val exploded = graft.sources.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), explode(array_distinct(hashesOf(col(textCol)))).as("h"))
    val hot = exploded
      .groupBy("h").agg(count(lit(1)).as("df")) // hashes are distinct per doc already
      .filter(col("df") >= minDocs)
      .select("h")
    val bad = exploded
      .join(broadcast(hot), "h") // broadcast probe: corpus side never shuffles
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("__bad")) // hit docs only
    val toks = tokens(col(textCol))
    val rebuilt = docs
      .join(bad.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("__bad", coalesce(col("__bad"), array().cast("array<bigint>")))
      .withColumn("__hs", hashesOf(col(textCol)))
      // 1-based start positions of this doc's hot spans
      .withColumn("__starts",
        when(size(col("__hs")) === 0, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(1), size(col("__hs"))),
            i => array_contains(col("__bad"), element_at(col("__hs"), i)))))
      .withColumn("n_tokens", size(toks))
      // token i (1-based) survives iff no hot span [s, s+n-1] covers it
      .withColumn("__kept",
        filter(
          transform(sequence(lit(1), size(toks)),
            i => when(
              exists(col("__starts"), s => s <= i && i <= s + lit(n - 1)),
              lit(null).cast("string")).otherwise(element_at(toks, i))),
          x => x.isNotNull))
      .withColumn("n_masked", col("n_tokens") - size(col("__kept")))
      .withColumn(textCol, concat_ws(" ", col("__kept")))
    rebuilt.drop("__bad", "__hs", "__starts", "__kept")
  }

  // --------------------------------------- edit-distance pair verification

  /** Exact Levenshtein verification of candidate near-dup pairs: joins each
    * (doc_a, doc_b) pair back to its two texts and scores
    * `lev` (edit distance) and `lev_sim` = 1 − lev/max(len_a, len_b).
    *
    * Edit distance is O(len²) PER PAIR and can never run corpus-wide; its
    * place in the pipeline is exactly here — as the precision step applied
    * to the bounded candidate set an LSH/shingle stage emits. The pair list
    * is small by construction, so it broadcasts into both text joins and
    * the corpus never shuffles.
    * Output: pair columns + len_a, len_b, lev, lev_sim (rounded 4).
    */
  def editDistanceVerify(
      docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    // the PAIR side broadcasts (it is the small one); each text lookup is a
    // broadcast hash join against the corpus scan — the corpus never
    // shuffles, and each join's output is pairs-sized
    val txt = docs.select(col(idCol), normalizeWs(col(textCol)).as("__t"))
    val withA = txt
      .join(broadcast(pairs), col(idCol) === col(aCol))
      .drop(idCol).withColumnRenamed("__t", "__ta")
    txt
      .join(broadcast(withA), col(idCol) === col(bCol))
      .drop(idCol).withColumnRenamed("__t", "__tb")
      .withColumn("len_a", length(col("__ta")))
      .withColumn("len_b", length(col("__tb")))
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")))
      .withColumn("lev_sim",
        round(lit(1.0) - col("lev").cast("double") /
          greatest(col("len_a"), col("len_b")).cast("double"), 4))
      .drop("__ta", "__tb")
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Near-duplicate pairs by embedding cosine similarity over the given
    * (pre-sampled or pre-bucketed) set. Quadratic — the scale path buckets
    * with [[VectorFunctions.srpBucket]] first (see Similarity.lshTopK).
    * Output: id_a, id_b, cos (rounded 4).
    */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** The SCALE path for [[embeddingNearDup]]: sign-random-projection
    * bucketing — candidates are an equi-join on (table, bucket), scored
    * pairs shrink from n²/2 to the bucket collision set, and the corpus
    * never cross-joins. Same output contract (id_a, id_b, cos >= threshold,
    * rounded 4) MINUS pairs the hash tables miss: recall follows the SRP
    * curve 1-(1-p^nBits)^tables with p = 1-θ/π, so tune nBits DOWN /
    * tables UP as the target threshold drops. Duplicate-grade pairs
    * (cos = 1) land in the SAME bucket in EVERY table — structural, not
    * probabilistic — which is what the x_embed_lsh_agreement gate pins.
    * Vectors ride the bucket explode so no join back to the corpus.
    */
  def embeddingNearDupLsh(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 4,
      tables: Int = 8): DataFrame = {
    val bucketed = graft.sources.Tables.spread(embs).select(
      col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(graft.functions.SrpBuckets.srpBuckets(col(vecCol), nBits, tables))
        .as(Seq("tbl", "b")))
    val a = bucketed.select(col("tbl"), col("b"), col("id").as("id_a"), col("v").as("v_a"))
    val bb = bucketed.select(col("tbl"), col("b"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(bb, Seq("tbl", "b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b") // a pair can collide in several tables; score once
      .agg(first(col("v_a")).as("v_a"), first(col("v_b")).as("v_b"))
      .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style candidate pairs via a 2-D projection GRID: vectors
    * land in cells of a Rademacher-projected plane ([[graft.functions
    * .RpProject]] — exact ±1 arithmetic, so the grid is engine-portable,
    * unlike k-means cells whose float means drift), and only pairs within
    * the 3×3 cell neighborhood are scored. Each unordered pair is scored
    * exactly once WITHOUT a distinct pass: the smaller id explodes its 9
    * probe cells, the larger id stays in its home cell, and a home cell
    * appears in a neighborhood at most once.
    *
    * Cost: 9·|corpus| probe rows through one equi-join on (cx, cy) —
    * never all-pairs; `cellWidth` tunes the recall/candidate-volume
    * trade (≈ the projected-distance scale of a near-dup at the target
    * threshold). Pairs farther than one cell apart in either projected
    * dim are missed by construction — this is the documented approximate
    * frontier, mirrored exactly by the oracle.
    */
  def semanticGridPairs(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      signs2: Array[Double],
      cellWidth: Double,
      threshold: Double): DataFrame = {
    val proj = graft.sources.Tables.spread(embs).select(
      col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.RpProject.rpProject(col(vecCol), signs2, 2).as("y"))
      .withColumn("cx", floor(element_at(col("y"), 1) / cellWidth))
      .withColumn("cy", floor(element_at(col("y"), 2) / cellWidth))
    val home = proj.select(
      col("id").as("id_b"), col("v").as("v_b"), col("cx"), col("cy"))
    val probes = proj
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("id_a"), col("v").as("v_a"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    probes.join(home, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
