package graft.operators

import graft.functions.{Text, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines (first-class
  * beyond-reference surface). Five escalating strategies:
  *
  *  1. exact        — hash group-by on normalized content
  *  2. n-gram Jaccard — shingle-set overlap via an inverted-index join
  *  3. MinHash+LSH  — banded signatures bucket candidates, then exact
  *                    Jaccard verification (no false positives kept)
  *  4. SimHash      — 64-bit weighted fingerprint, Hamming-band join
  *  5. embedding    — cosine near-dup inside LSH buckets
  *
  * Scale design: none of these ever enumerate all O(n²) pairs. Every
  * near-dup variant goes shingle/band/bucket → equi-join → verify, so
  * the shuffle key is the bucket id and work is proportional to true
  * collisions. Skewed buckets (stop-shingles) are capped before the
  * self-join.
  */
/** Verification mode for MinHash candidate pairs. */
sealed trait MinHashVerify

/** Exact Jaccard on the distinct-shingle arrays: candidates re-join
  * the shingle sets, so the reported similarity is the true one and
  * the threshold is exact. The right default below ~10 TB. */
case object ExactVerify extends MinHashVerify

/** Estimated Jaccard = fraction of agreeing signature components —
  * the standard MinHash deployment at corpus scale: verification
  * never touches the shingle arrays again, so the candidate join
  * carries `numHashes` longs per doc instead of full shingle sets.
  * Unbiased with standard error √(J(1−J)/k); pairs within ~1/√k of
  * the threshold can land on the other side of it vs [[ExactVerify]]
  * (recall/precision blur, tunable via k = numHashes). */
case object EstimateVerify extends MinHashVerify

object Dedup {

  /** Exact dedup on normalized text: one row per distinct content with
    * the kept (min) id and the duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(Text.fingerprintMd5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Apply exact dedup: the corpus minus duplicates (keeps the min-id
    * row of each content group) — the operator a training pipeline
    * actually runs. Semi-join against the winner set, so the corpus
    * streams once and only ids shuffle. */
  def applyExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(exact(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Incremental exact dedup for continuous ingestion: drop new docs
    * whose fingerprint already exists in the `ledger` (the persisted
    * fingerprint set of everything ingested so far), then dedup the
    * batch internally. Returns (kept rows, updated ledger).
    *
    * Scale design: the ledger is fingerprints ONLY — md5 strings, not
    * documents — so the anti-join shuffles ~32 bytes/row of history (or
    * nothing at all if the ledger table is bucketed by `fp` and the
    * batch is repartitioned to match); the historical corpus is never
    * rescanned. This is the batch face of
    * [[graft.streaming.StreamingOps.dedupExact]]. */
  def applyExactIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                            ledger: DataFrame): DataFrame = {
    val withFp = newDocs.withColumn("_fp", Text.fingerprintMd5(col(textCol)))
    val fresh = withFp.join(ledger.select(col("fp").as("_fp")), Seq("_fp"), "left_anti")
    fresh.join(
      fresh.groupBy("_fp").agg(min(col(idCol)).as(idCol)).select(idCol),
      Seq(idCol), "left_semi")
      .drop("_fp")
  }

  /** The fingerprint ledger rows contributed by a batch — union onto
    * (or append into) the persisted ledger after a successful write. */
  def ledgerOf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(Text.fingerprintMd5(col(textCol)).as("fp")).distinct()

  /** Line-level exact dedup (the C4 / RefinedWeb corpus pass): each
    * distinct line survives exactly ONCE in the whole corpus — at its
    * first occurrence, i.e. the smallest (document id, position) —
    * and documents are rebuilt from their surviving lines in original
    * order (so a within-document repeat collapses too). Returns
    * (idCol, textCol rebuilt, n_lines_kept); documents whose every
    * line lost are dropped entirely (an empty doc is corpus noise, and
    * emitting it would need an outer join against the full input for
    * no training value). Idempotent by construction — property-spec'd.
    *
    * Scale shape: lines explode pre-shuffle at scan speed; the winner
    * table is a map-side-combined min(struct(id, pos)) per distinct
    * line (hot boilerplate lines — nav bars, cookie banners — collapse
    * in the combiner, so the shuffle carries distinct lines, not
    * occurrences). The winner table IS the surviving line set — one
    * row per distinct line, tagged with exactly the (id, pos) where it
    * survives — so no join back onto the occurrence stream is needed
    * at all (round 10: the former keep-decision equi-join re-shuffled
    * every line occurrence of the corpus to recompute what the winner
    * rows already state); the rebuild shuffles the WINNERS (≤ one row
    * per distinct line) by id and reassembles with an ordered
    * in-memory sort per doc. Nothing is ever all-pairs, and no shuffle
    * carries the occurrence stream twice. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), quoted)).as(Seq("pos", "line")))
    val winners = lines.groupBy("line")
      .agg(min(struct(col(idCol), col("pos"))).as("_keep"))
    winners
      .select(col(s"_keep.$idCol").as(idCol), col("_keep.pos").as("pos"), col("line"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          sep).as(textCol),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Bloom-prefiltered exact-dedup apply: byte-identical result to
    * [[applyExact]], but the corpus is filtered through a broadcast
    * Bloom filter of the winner ids BEFORE the semi-join shuffle — the
    * explicit form of Spark's runtime bloom filter. The filter admits
    * every winner (no false negatives by construction) plus ~`fpp`
    * false positives, and the exact semi-join behind it removes those,
    * so exactness is preserved.
    *
    * Scale trade: one extra pass to build the filter (tree-aggregated;
    * the driver holds only the fixed-size bitmap) buys a big-side
    * shuffle of |winners|·(1+fpp) rows instead of |docs|. On a corpus
    * that is 50% duplicates that halves the dominant shuffle; the more
    * duplicated the corpus, the bigger the win. The winner-id set (ids
    * only — a long per distinct content) is cached so the bloom build
    * and the semi-join share one aggregation pass instead of running
    * the corpus-wide groupBy twice; it stays cached for reuse across
    * the caller's actions. Repeat calls over the SAME corpus plan
    * reuse the one cache entry (Spark's CacheManager dedupes by
    * analyzed plan); a long-lived session processing MANY distinct
    * corpora should call [[releaseBloomWinners]] after consuming each
    * result, or the per-corpus winner caches accumulate. */
  def applyExactBloom(docs: DataFrame, idCol: String, textCol: String,
                      expectedWinners: Long = 1000000L,
                      fpp: Double = 0.03): DataFrame = {
    // the build side inserts the column's NATIVE representation
    // (stat.bloomFilter hashes UTF8 bytes for strings) while the probe
    // below casts to long — on a non-integral idCol that asymmetry
    // yields false NEGATIVES that silently drop winner rows, breaking
    // the byte-identical-to-applyExact contract. Fail loudly instead.
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = docs.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"applyExactBloom: idCol '$idCol' must be an integral type " +
          s"(build inserts native values, probe hashes longs); got ${dt.simpleString}")
    }
    val winners = bloomWinners(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = winners.stat.bloomFilter(idCol, expectedWinners, fpp)
    // the filter rides as a binary literal into Spark's native
    // BloomFilterMightContain (same codegen'd expression the runtime
    // row-level bloom injection uses), so the big-side filter stays
    // inside whole-stage codegen — a Scala udf here would deserialize
    // every row of the corpus-sized side
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val mightWin = ColumnBridge.column(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(col(idCol).cast("long"))))
    docs.filter(mightWin).join(winners, Seq(idCol), "left_semi")
  }

  /** Release the winner-id cache [[applyExactBloom]] holds for `docs`
    * (same idCol/textCol), after the returned DataFrame has been fully
    * consumed. Safe to call whether or not the entry still exists:
    * uncaching matches by logical plan, so this constructs the same
    * winners frame and drops its cache entry. */
  def releaseBloomWinners(docs: DataFrame, idCol: String, textCol: String): Unit =
    bloomWinners(docs, idCol, textCol).unpersist(blocking = false)

  private def bloomWinners(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(docs, idCol, textCol).select(col("keep_id").as(idCol))

  /** Benchmark decontamination: count, per training doc, the distinct
    * word-`w`-grams it shares with an evaluation/benchmark corpus —
    * docs with any overlap are leaking eval content into training and
    * get dropped (The Pile / GPT-3 style n-gram decontamination;
    * 8–13-grams are the conventional window).
    *
    * Scale shape: the benchmark is tiny next to a 100 TB corpus, so its
    * distinct shingle set rides as a broadcast dim; the corpus shingles
    * stream through the broadcast hash join with NO shuffle, and only
    * matching (doc, gram) pairs reach the per-doc count. */
  def benchmarkOverlap(docs: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, benchTextCol: String,
                       w: Int): DataFrame = {
    val docSh = docs.select(col(idCol),
      explode(array_distinct(Text.shingles(col(textCol), w))).as("g"))
    val benchSh = benchmark
      .select(explode(array_distinct(Text.shingles(col(benchTextCol), w))).as("g"))
      .distinct()
    docSh.join(broadcast(benchSh), Seq("g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** Apply decontamination: the training corpus minus every doc that
    * shares at least one word-`w`-gram with the benchmark. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    w: Int): DataFrame =
    docs.join(
      benchmarkOverlap(docs, idCol, textCol, benchmark, benchTextCol, w)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** Distinct word-w-shingles per doc, exploded to an inverted-index
    * shape (doc_id, shingle). `maxBucket` drops shingles appearing in
    * more than that many docs — stop-shingles generate quadratic join
    * fan-out and carry no discriminative signal. */
  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           w: Int, maxBucket: Int): DataFrame = {
    // Materialize the explode ONCE, lazily (r17 — the same
    // multi-consumer recompute class the r16 PMI fix closed):
    // [[ngramJaccardPairs]]/[[ngramContainmentPairs]] consume this
    // index FOUR times (hot-shingle count, per-doc sizes, both
    // self-join sides), and without a checkpoint every consumer re-ran
    // the corpus scan + shingle split + array_distinct + explode —
    // measured at ~4× the whole pair-finding cost on q_dedup_cluster.
    // Lazy (r16 rule): constructing the DataFrame must stay
    // side-effect free; the first action materializes it. The capped
    // index is checkpointed too, so the broadcast anti-join replays on
    // checkpoint blocks, not on the text pipeline. Tradeoff as in
    // Text.collocations: lineage truncates to executor-local blocks
    // (index-sized, ∝ distinct shingles — the thing this operator
    // already bounds via maxBucket fan-out capping).
    val idx = docs
      .select(col(idCol).as("doc"), explode(array_distinct(Text.shingles(col(textCol), w))).as("sh"))
      .localCheckpoint(eager = false)
    if (maxBucket <= 0) idx
    else {
      val hot = idx.groupBy("sh").count().filter(col("count") > maxBucket).select("sh")
      // a USING join outputs the join key FIRST (even for left_anti), so
      // re-pin the (doc, sh) order — callers rename positionally
      idx.join(broadcast(hot), Seq("sh"), "left_anti").select("doc", "sh")
        .localCheckpoint(eager = false)
    }
  }

  /** N-gram Jaccard near-dup pairs: J(A,B) = |A∩B| / |A∪B| ≥ threshold.
    * Inverted-index self-join computes intersections only for pairs
    * sharing ≥1 shingle. Output: (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        w: Int, threshold: Double, maxBucket: Int = 0): DataFrame = {
    val idx = shingleIndex(docs, idCol, textCol, w, maxBucket)
    val sizes = idx.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val a = idx.toDF("doc_a", "sh")
    val b = idx.toDF("doc_b", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** N-gram CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥
    * threshold — the asymmetric near-dup Jaccard structurally misses:
    * a short doc quoted whole inside a long one has tiny Jaccard
    * (union is dominated by the long doc) but containment ≈ 1. The
    * standard excerpt/quotation detector next to [[ngramJaccardPairs]]
    * in a dedup pass. Same inverted-index equi-join shape and
    * hot-shingle cap — candidates ∝ shingle-bucket occupancy, never
    * all pairs. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            w: Int, threshold: Double,
                            maxBucket: Int = 0): DataFrame = {
    val idx = shingleIndex(docs, idCol, textCol, w, maxBucket)
    val sizes = idx.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val a = idx.toDF("doc_a", "sh")
    val b = idx.toDF("doc_b", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** MinHash+LSH near-dup: `numHashes` minhashes in `bands` bands; docs
    * agreeing on any whole band become candidates; candidates are then
    * verified with exact Jaccard ≥ threshold (so LSH only affects
    * recall, never precision). Output: (doc_a, doc_b, jaccard).
    *
    * `hash` selects the signature family — [[DetHash]] (default,
    * SQL-reproducible end to end) or [[XxHash64]] (stronger mixing,
    * fused [[graft.functions.MinHashSigs]] codegen). Same pipeline
    * shape either way: shingle → signature → band key → equi-join →
    * exact-Jaccard verify. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      w: Int, numHashes: Int, bands: Int,
                      threshold: Double,
                      hash: HashFamily = DetHash,
                      verify: MinHashVerify = ExactVerify): DataFrame = hash match {
    case DetHash => minhashDet(docs, idCol, textCol, w, numHashes, bands, threshold, verify)
    case XxHash64 => minhashXx(docs, idCol, textCol, w, numHashes, bands, threshold, verify)
  }

  /** xxhash64 arm of [[minhashLshPairs]]: the distinct-shingle array is
    * materialized ONCE per doc and reused by both the signature and
    * verification stages; signatures come from the fused
    * [[graft.functions.MinHashSigs]] codegen expression (one pass over
    * the shingles for all hashes — the composed
    * `array_min(transform(...))`-per-hash form walks the array
    * numHashes× through the interpreter). */
  private def minhashXx(docs: DataFrame, idCol: String, textCol: String,
                        w: Int, numHashes: Int, bands: Int,
                        threshold: Double,
                        verify: MinHashVerify = ExactVerify): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shingled = docs.select(
      col(idCol).as("doc"),
      array_distinct(Text.shingles(col(textCol), w)).as("sh"))
    val sigs = shingled.select(col("doc"), col("sh"),
      graft.functions.MinHashSigs(col("sh"), numHashes).as("sig"))
    // band key = (band index, hash of the band's slice of the signature)
    val banded = sigs.select(
      col("doc"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows).cast("string")).as("bkey"))
      }: _*)).as("bk"))
    val cand = banded.select(col("doc").as("doc_a"), col("bk"))
      .join(banded.select(col("doc").as("doc_b"), col("bk")), Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verify match {
      case ExactVerify => verifyJaccard(cand, shingled, threshold)
      case EstimateVerify =>
        // null components (empty shingle set) never agree: a === b is
        // null-propagating and when() falls to 0
        val agree = size(filter(
          zip_with(col("sig_a"), col("sig_b"),
            (a, b) => when(a === b, lit(true)).otherwise(lit(false))),
          x => x))
        cand
          .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .withColumn("jaccard", agree.cast("double") / numHashes)
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
    }
  }

  /** Exact-Jaccard verification of (doc_a, doc_b) candidate pairs on
    * precomputed distinct-shingle arrays — shared by both MinHash
    * variants so the oracle-checkable twin can never drift from the
    * production one. LSH thus only ever affects recall, not
    * precision. */
  private def verifyJaccard(cand: DataFrame, shingled: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** [[DetHash]] arm of [[minhashLshPairs]]: the identical
    * shingle → signature → band → candidate → exact-Jaccard-verify
    * pipeline, with the per-shingle hash swapped from xxhash64 to the
    * transparent [[graft.functions.RollingFp]] codepoint fold reduced
    * mod 2³¹−1 and the signature family to the affine (aᵢ·f + bᵢ) mod
    * 2³¹−1 — every step reproducible in ANSI SQL, so the WHOLE LSH
    * pipeline runs under the full DuckDB oracle.
    *
    * Scale shape: explode → numHashes-way min aggregate — signatures
    * partial-aggregate map-side (shuffle ∝ distinct (doc, shingle)),
    * with no interpreted higher-order pass; banding and candidate
    * generation are string-key equi-joins. */
  private def minhashDet(docs: DataFrame, idCol: String, textCol: String,
                         w: Int, numHashes: Int, bands: Int,
                         threshold: Double,
                         verify: MinHashVerify = ExactVerify): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val shingled = docs.select(
      col(idCol).as("doc"),
      array_distinct(Text.shingles(col(textCol), w)).as("sh"))
    val sigs = sigsFromShingled(shingled, numHashes)
    val banded = detBands(sigs, numHashes, bands)
    val cand = banded.select(col("doc").as("doc_a"), col("band"), col("key"))
      .join(banded.select(col("doc").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verify match {
      case ExactVerify => verifyJaccard(cand, shingled, threshold)
      case EstimateVerify =>
        estimateScored(cand, sigs, sigs, numHashes)
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
    }
  }

  private val MinHashP = 2147483647L // 2^31 − 1: keeps aᵢ·f + bᵢ < 2^63 (ANSI-safe)

  /** Det signatures (doc, s0..s{n−1}) from a (doc, sh) shingle table;
    * docs with zero shingles produce no row. */
  private def sigsFromShingled(shingled: DataFrame, numHashes: Int): DataFrame = {
    val fp = shingled
      .select(col("doc"), explode(col("sh")).as("s"))
      .withColumn("f", pmod(graft.functions.RollingFp(col("s")), lit(MinHashP)))
    val sigCols = (0 until numHashes).map { i =>
      min(pmod(col("f") * (1L + 7919L * i) + (12345L + 104729L * i), lit(MinHashP)))
        .as(s"s$i")
    }
    fp.groupBy(col("doc")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH band keys (doc, band, key) from a det signature table. */
  private def detBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    sigs.select(col("doc"), explode(array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        concat_ws("_", (0 until r).map(k => col(s"s${j * r + k}")): _*).as("key"))
    }: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Probe access ([[graft.MinhashSplit]]): the banded candidate join
    * + distinct as a standalone leg — exactly the candHist stage of
    * [[applyMinhashIncremental]]. */
  private[graft] def bandCandidates(sigsA: DataFrame, sigsB: DataFrame,
                                    numHashes: Int, bands: Int): DataFrame = {
    val a = detBands(sigsA, numHashes, bands)
    val b = detBands(sigsB, numHashes, bands)
    a.select(col("doc").as("doc_a"), col("band"), col("key"))
      .join(b.select(col("doc").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Probe access ([[graft.MinhashSplit]]): the signature-agreement
    * scorer as a standalone leg. */
  private[graft] def scoreCandidates(cand: DataFrame, sigsA: DataFrame,
                                     sigsB: DataFrame, numHashes: Int): DataFrame =
    estimateScored(cand, sigsA, sigsB, numHashes)

  /** Score candidate pairs by signature-component agreement (the
    * [[EstimateVerify]] kernel), joining wide signature tables keyed
    * `doc`. */
  private def estimateScored(cand: DataFrame, sigsA: DataFrame, sigsB: DataFrame,
                             numHashes: Int): DataFrame = {
    val sa = sigsA.select(col("doc").as("doc_a") +:
      (0 until numHashes).map(i => col(s"s$i").as(s"a_s$i")): _*)
    val sb = sigsB.select(col("doc").as("doc_b") +:
      (0 until numHashes).map(i => col(s"s$i").as(s"b_s$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_s$i") === col(s"b_s$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard", agree.cast("double") / numHashes)
  }

  /** The MinHash ledger rows contributed by a batch: the det signature
    * table (doc, s0..s{numHashes−1}) — numHashes longs per document,
    * the near-dup analogue of [[ledgerOf]]'s fingerprints. Persist it
    * after a successful write; [[applyMinhashIncremental]] dedups the
    * next batch against it without ever rereading history text. */
  def minhashLedgerOf(docs: DataFrame, idCol: String, textCol: String,
                      w: Int, numHashes: Int = 16): DataFrame =
    sigsFromShingled(docs.select(
      col(idCol).as("doc"),
      array_distinct(Text.shingles(col(textCol), w)).as("sh")), numHashes)

  /** Incremental NEAR-dup dedup for continuous ingestion: drop new
    * docs whose estimated Jaccard against any history doc reaches
    * `threshold`, then near-dup the surviving batch internally
    * (cluster-apply keeping min ids). History rides as `ledger` — the
    * persisted [[minhashLedgerOf]] signature table, numHashes longs
    * per historical doc — so the candidate join is (band, key) against
    * a projection of the ledger and verification is signature
    * agreement ([[EstimateVerify]]): the historical CORPUS is never
    * rescanned, exactly like [[applyExactIncremental]] but for
    * near-dups. Returns the kept new rows. */
  def applyMinhashIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                              ledger: DataFrame, w: Int, numHashes: Int,
                              bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // A ledger persisted with fewer hashes would die later in detBands
    // with an opaque unresolved-column error; one persisted with MORE
    // would silently band/score over a signature prefix, changing
    // candidate recall vs. the parameters it was built with. Fail here,
    // by name.
    val expectedCols = ("doc" +: (0 until numHashes).map("s" + _)).toSet
    require(ledger.columns.toSet == expectedCols,
      s"ledger signature arity mismatch: expected columns doc, s0..s${numHashes - 1} " +
        s"(numHashes=$numHashes), got [${ledger.columns.sorted.mkString(", ")}] — " +
        "rebuild the ledger or pass the numHashes it was persisted with")
    // Materialize the batch signatures once: the table is referenced by
    // four downstream plans (bands, history scoring, survivor semi-join,
    // self scoring) and is the artifact a production pipeline appends to
    // the persisted ledger anyway. It is BATCH-sized (numHashes longs
    // per new doc), never history-sized, so executor-local storage is
    // bounded by the ingestion batch; without this each consumer
    // re-runs the shingle→fingerprint→16-way-min pipeline.
    // lazy (r18): an EAGER checkpoint here ran its own job at plan
    // construction on every execution; lazy materializes once inside
    // the first consumer's job and the other three replay blocks
    val newSigs = minhashLedgerOf(newDocs, idCol, textCol, w, numHashes)
      .localCheckpoint(eager = false)
    val candHist = bandCandidates(newSigs, ledger, numHashes, bands)
    val dupVsHistory = estimateScored(candHist, newSigs, ledger, numHashes)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as(idCol)).distinct()
    // fresh (the history-survivor batch) feeds TWO consumers (the
    // survivor-signature semi-join and the final cluster-apply) and
    // freshSigs feeds THREE (self banding + both sides of self
    // scoring) — unpersisted, the history anti-join re-ran per
    // consumer (the r16 MinhashSplit leg profile measured the gap as
    // ~1/3 of the x100 total). Both are batch-bounded like newSigs;
    // lazy checkpoints keep construction side-effect-free.
    val fresh = newDocs.join(dupVsHistory, Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    val freshSigs = newSigs
      .join(fresh.select(col(idCol).as("doc")), Seq("doc"), "left_semi")
      .localCheckpoint(eager = false)
    val fb = detBands(freshSigs, numHashes, bands)
    val candSelf = fb.select(col("doc").as("doc_a"), col("band"), col("key"))
      .join(fb.select(col("doc").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val selfPairs = estimateScored(candSelf, freshSigs, freshSigs, numHashes)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    applyNearDups(fresh, idCol, selfPairs)
  }

  /** Connected components over a near-dup pair list — turns pairwise
    * matches into dedup clusters (every doc labeled with the min doc id
    * reachable through match edges, transitively). Iterative
    * smallest-label propagation with pointer doubling: each round every
    * node adopts the min label in its neighborhood; converges in
    * O(log component diameter) rounds. Each round is one shuffle; no
    * driver-side graph. Throws if labels have not converged after
    * `maxIter` rounds — a silently-truncated propagation would return
    * wrong (split) clusters.
    *
    * Integral ids take the RDD-level loop ([[ccLongRdd]], r18): the
    * former per-round DataFrame materialization paid Catalyst
    * analysis/optimization plus an eager-localCheckpoint job storm on
    * EVERY round of EVERY execution (q_dedup_semantic_apply: 59 jobs,
    * ~40% of its wall). The RDD loop plans nothing per round, keeps
    * every label/edge RDD hash-partitioned by node so all per-round
    * joins are narrow, and runs one job per round (the convergence
    * count). Non-integral ids (string keys) keep the plan-level loop,
    * which has no dtype constraints. Both arms drop a pair with a null
    * id before the loop: a null is no node, so such a pair adds no node
    * and no edge (the other end stays unlabeled unless another pair
    * names it). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dtA = pairs.schema(aCol).dataType
    val dtB = pairs.schema(bCol).dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    if (integral.contains(dtA) && dtA == dtB) ccLongRdd(pairs, aCol, bCol, maxIter, dtA)
    else ccPlanLoop(pairs, aCol, bCol, maxIter)
  }

  /** RDD arm of [[connectedComponents]] for integral ids (every dedup
    * id in this library): identical smallest-label-propagation +
    * pointer-doubling semantics and identical output (node, cluster)
    * in the input id dtype, but the loop iterates over
    * hash-partitioned `RDD[(Long, Long)]`s — zero Catalyst work per
    * round, one convergence-count job per round, narrow joins
    * throughout (edges and labels share one HashPartitioner), and each
    * round's blocks are unpersisted as soon as the next round lands
    * (the plan-level loop's checkpoint blocks lingered until context
    * GC — r17's block-manager-pressure suspect). Pairs with a null id
    * are dropped, as in [[ccPlanLoop]]. */
  private def ccLongRdd(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int,
                        idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sess = pairs.sparkSession
    // one pass over the (possibly expensive) pair plan; symmetrize in
    // the same pass, dedup once, then right-size round parallelism to
    // the edge count exactly like the plan loop did: label propagation
    // is latency-bound on small cluster graphs and shuffle-bound on
    // large ones; partitions ∝ edges serves both regimes
    val raw: RDD[(Long, Long)] = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .na.drop()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val maxPar = sess.sessionState.conf.numShufflePartitions
    val staged = raw.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .distinct(maxPar).persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = staged.count()
    val p = math.max(1L, math.min(maxPar.toLong, nEdges / 20000L + 1L)).toInt
    val part = new HashPartitioner(p)
    // edges keyed (node -> neighbor); every RDD below shares `part`
    val edges = staged.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // round 0 folds into initialization: every node starts at
    // min(own id, min neighbor id) — the symmetrized edge list carries
    // every node as a key, so no node is lost
    var labels: RDD[(Long, Long)] = edges.reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (n, mn) => (n, math.min(n, mn)) },
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var backing: RDD[_] = labels // the persisted RDD behind `labels`
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      // min incoming neighbor label — the round's one shuffle
      val incoming = edges.join(labels, part)
        .map { case (_, (nbr, lab)) => (nbr, lab) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // merge with own label; the pre-round label rides along so the
      // convergence probe needs no second pass
      val cand = labels.leftOuterJoin(incoming, part)
        .mapPartitions(_.map { case (n, (old, inc)) =>
          (n, (inc.fold(old)(math.min(old, _)), old))
        }, preservesPartitioning = true)
      // pointer doubling (path shortcutting): label := label(label),
      // looked up in the PREVIOUS round's labels — the label chain
      // collapses geometrically, so convergence is O(log diameter)
      // rounds (ScaleOpsSpec measures a 10k path graph). Engaged only
      // from round 3: near-dup cluster graphs converge in 2-3 plain
      // rounds, where the extra per-round join would be pure overhead.
      // Labels are always node ids of the same component, so min-label
      // semantics and the final fixed point are unchanged.
      val jumped = if (i <= 2) cand else {
        cand.map { case (n, (lab, old)) => (lab, (n, old)) }
          .leftOuterJoin(labels, part)
          .map { case (lab, ((n, old), ll)) => (n, (ll.getOrElse(lab), old)) }
          .partitionBy(part)
      }
      val updated = jumped.persist(StorageLevel.MEMORY_AND_DISK)
      // the one action per round: materializes the round AND counts
      // label movement in the same pass
      val changed = updated.filter { case (_, (lab, old)) => lab < old }.count()
      backing.unpersist(blocking = false)
      backing = updated
      labels = updated.mapPartitions(_.map { case (n, (lab, _)) => (n, lab) },
        preservesPartitioning = true)
      converged = changed == 0
      i += 1
    }
    // the loop's working sets are dead once labels have converged; the
    // final round's blocks stay persisted for the consumer and are
    // released by the ContextCleaner when the result goes out of scope
    staged.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    if (!converged) {
      backing.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds " +
          "(component min-label diameter exceeds maxIter); raise maxIter")
    }
    val out = sess.createDataFrame(
      labels.map { case (n, l) => org.apache.spark.sql.Row(n, l) },
      // nullable like the plan loop's aggregate output, so the Verify
      // parquet dump keeps the same optional-field schema it always had
      StructType(Seq(StructField("node", LongType, nullable = true),
        StructField("cluster", LongType, nullable = true))))
    if (idType == LongType) out
    else out.select(col("node").cast(idType).as("node"),
      col("cluster").cast(idType).as("cluster"))
  }

  /** Plan-level arm of [[connectedComponents]] (non-integral ids):
    * the pre-r18 DataFrame loop — one eager localCheckpoint per round,
    * Catalyst planning per round. Kept because it has no id-dtype
    * constraints; every id in this library is integral, so the hot
    * paths never come here. */
  private def ccPlanLoop(pairs: DataFrame, aCol: String, bCol: String,
                         maxIter: Int): DataFrame = {
    // symmetrize via explode, not union: a union's two branches would
    // each re-evaluate the (possibly expensive) upstream pair plan.
    // Null-id pairs go first, as in the RDD arm: kept, a null would
    // become a node row of its own (groupBy keeps null keys)
    val edges0 = pairs.na.drop(Seq(aCol, bCol)).select(explode(array(
      struct(col(aCol).as("src"), col(bCol).as("dst")),
      struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select("e.src", "e.dst").distinct()
    // materialize ONCE (one pass over the possibly-expensive pair
    // plan), truncate lineage so round k's plan doesn't embed rounds
    // 0..k−1, then right-size round parallelism to the edge count:
    // label propagation is latency-bound on small cluster graphs
    // (every round is a scheduled job — width-32 stages of near-empty
    // partitions dominate wall time) and shuffle-bound on large ones;
    // partitions ∝ edges serves both regimes. Executor-local blocks
    // are released by the ContextCleaner when the round frames go out
    // of scope — nothing stays pinned after the result is consumed.
    val staged = edges0.localCheckpoint()
    val nEdges = staged.count()
    val maxPar = staged.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val p = math.max(1L, math.min(maxPar.toLong, nEdges / 20000L + 1L)).toInt
    val edges = staged.repartition(p, col("dst")).localCheckpoint()
    // round 0 folds into initialization: every node starts at
    // min(own id, min neighbor id) — the symmetrized edge list carries
    // every node as a dst, so no node is lost
    var labels = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("_mn"))
      .select(col("dst").as("node"), least(col("dst"), col("_mn")).as("label"))
      .localCheckpoint()
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      // one aggregation over (own label ∪ neighbors' labels) per round —
      // a single shuffle on node. The pre-round label rides along as
      // `old`, so the convergence probe needs no join back onto labels.
      val prop = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("label"), lit(false).as("own"))
        .union(labels.withColumn("own", lit(true)))
        .groupBy("node").agg(
          min(col("label")).as("label"),
          min(when(col("own"), col("label"))).as("old"))
      // pointer doubling (path shortcutting): label := label(label),
      // looked up in the PREVIOUS round's materialized map — the label
      // chain collapses geometrically, so convergence is O(log
      // diameter) rounds instead of O(diameter) (a 10k-node path graph
      // converges in ~15 rounds, not 10k — ScaleOpsSpec measures it).
      // Engaged only from round 3: near-dup cluster graphs converge in
      // 2-3 plain rounds, where the extra per-round join would be pure
      // overhead; a graph still moving after 2 rounds has real depth
      // and takes the jump from then on. Labels are always node ids of
      // the same component (init picks self/neighbor ids; prop takes
      // mins of labels; the jump follows a label to that node's own
      // label), so min-label semantics and the final fixed point are
      // unchanged: at convergence every adjacent pair has label(a) ≤
      // label(b) and label(b) ≤ label(a), forcing one label per
      // component, which must be its min id. The left join tolerates
      // (and the coalesce keeps correct) a label with no node row,
      // though the symmetrized edge list guarantees every label IS a
      // node.
      val jumped = if (i <= 2) prop else {
        val jump = labels.select(col("node").as("label"), col("label").as("_ll"))
        prop.join(jump, Seq("label"), "left")
          .select(col("node"), coalesce(col("_ll"), col("label")).as("label"),
            col("old"))
      }
      val updated = jumped
        .localCheckpoint()   // eager: the round runs here, lineage cut
      val changed = updated.filter(col("label") < col("old")).limit(1).count()
      labels = updated.select("node", "label")
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds " +
          "(component min-label diameter exceeds maxIter); raise maxIter")
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Apply near-dup clustering: keep each cluster's min-id
    * representative plus every unclustered doc — the operator a
    * pipeline actually runs after pair-finding ([[ngramJaccardPairs]] /
    * [[minhashLshPairs]] / …). Non-representative members (cluster
    * nodes whose label differs from their own id) are anti-joined out;
    * the corpus streams once and only the small label set shuffles. */
  def applyNearDups(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    docs.join(
      connectedComponents(pairs, aCol, bCol)
        .filter(col("node") =!= col("cluster")).select(col("node").as(idCol)),
      Seq(idCol), "left_anti")

  /** [[applyNearDups]] with a QUALITY-AWARE representative: keep the
    * cluster member maximizing `scoreCol` (highest quality score,
    * longest text, …) instead of the arbitrary min-id — what a curation
    * pipeline actually wants when near-dup clusters mix a clean
    * original with mangled scrapes. Ties break to the smaller id, so
    * the choice is total and engine-independent. Scale shape: only
    * (id, score, cluster) triples shuffle — one aggregation per
    * cluster picks the winner (`max_by` over a (score, −id) struct, a
    * map-side-combinable semilattice max, no per-cluster window sort)
    * and the corpus streams once through the final anti-join. */
  def applyNearDupsKeepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                            scoreCol: Column, aCol: String = "doc_a",
                            bCol: String = "doc_b"): DataFrame = {
    val members = docs.select(col(idCol), scoreCol.as("_score"))
      .join(connectedComponents(pairs, aCol, bCol)
        .select(col("node").as(idCol), col("cluster")), Seq(idCol))
    val losers = members
      .groupBy("cluster")
      .agg(max_by(col(idCol), struct(col("_score"), -col(idCol))).as("_keep"))
      .join(members.select(col(idCol), col("cluster")), Seq("cluster"))
      .filter(col(idCol) =!= col("_keep"))
      .select(idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash: for each token hash, add +1/−1 per bit position,
    * take the sign vector. Near-dups = pairs within `maxHamming` bits,
    * found by splitting the 64 bits into (maxHamming+1) bands — the
    * pigeonhole guarantees matching pairs share an exact band.
    * Computed by the fused codegen [[graft.functions.SimHash64]]
    * expression (one pass per row). */
  def simhash64(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.SimHash64(Text.tokens(textCol))

  /** Reference implementation of [[simhash64]] as composed built-ins
    * (64 interpreter-evaluated `aggregate` folds) — kept for the
    * bit-for-bit equality spec against the fused expression. */
  def simhash64Composed(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hashes = transform(Text.tokens(textCol), t => xxhash64(t))
    val bitSums = (0 until 64).map { bit =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1))
    }
    bitSums.zipWithIndex.map { case (s, bit) =>
      when(s > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash Hamming-band near-dup pairs: docs within `maxHamming`
    * bits, found via the pigeonhole banding scheme (maxHamming+1
    * bands — matching pairs must share an exact band). `hash` selects
    * the per-token fingerprint family, [[DetHash]] (default,
    * integer-exact in SQL) or [[XxHash64]] (fused
    * [[graft.functions.SimHash64]] codegen). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int,
                   hash: HashFamily = DetHash): DataFrame = hash match {
    case DetHash => simhashDet(docs, idCol, textCol, maxHamming)
    case XxHash64 => simhashXx(docs, idCol, textCol, maxHamming)
  }

  /** 64-bit Hamming near-dup pairs over ANY precomputed signature
    * column — text SimHash signatures, image average-hashes
    * ([[Multimodal.imageHashes]]), audio fingerprints: pigeonhole
    * banding into (maxHamming+1) bands of 64/(maxHamming+1) bits (any
    * pair within maxHamming differing bits agrees EXACTLY on ≥ 1
    * band), an equi-join on the band key, then an exact `bit_count`
    * verify. Never enumerates all pairs: candidates ∝ band-bucket
    * occupancy, the property every near-dup path in this file shares. */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int,
                     outA: String = "doc_a", outB: String = "doc_b"): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 1 && 64 % nBands == 0,
      s"maxHamming+1 must divide 64 (maxHamming >= 1), got $nBands")
    val bandBits = 64 / nBands
    val banded = sigs.select(col(idCol).as("_id"), col(sigCol).as("_sig"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          col(sigCol).bitwiseAND(
            lit(((1L << bandBits) - 1) << (b * bandBits))).as("bkey"))
      }: _*)).as("bk"))
    banded.select(col("_id").as(outA), col("_sig").as("sig_a"), col("bk"))
      .join(banded.select(col("_id").as(outB), col("_sig").as("sig_b"), col("bk")), Seq("bk"))
      .filter(col(outA) < col(outB))
      .select(col(outA), col(outB),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** xxhash64 arm of [[simhashPairs]]: fused signature expression +
    * the shared [[hammingPairs64]] banding. */
  private def simhashXx(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int): DataFrame =
    hammingPairs64(
      docs.select(col(idCol).as("doc"), simhash64(col(textCol)).as("sig")),
      "doc", "sig", maxHamming)

  /** [[DetHash]] arm of [[simhashPairs]]: per token, the transparent
    * RollingFp fold mod 2³¹−1 rehashed through 64 affine families
    * decides the ±1 contribution per bit (top-half-of-range rule); the
    * per-bit sums, sign bits, packed 32-bit halves, band keys, and
    * Hamming verification are ALL integer arithmetic — bit-exactly
    * reproducible in ANSI SQL with no float anywhere. Explode → 64-way
    * sum aggregate (map-side combined); banding and verify mirror the
    * xxhash64 arm's pigeonhole scheme. */
  private def simhashDet(docs: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(64 % nBands == 0, s"maxHamming+1 must divide 64, got $nBands")
    val bandBits = 64 / nBands
    val P = 2147483647L
    val half = 1073741824L   // (P+1)/2: top half of the range → +1
    val fp = docs
      .select(col(idCol).as("doc"), explode(Text.tokens(col(textCol))).as("tk"))
      .withColumn("f", pmod(graft.functions.RollingFp(col("tk")), lit(P)))
    val sumCols = (0 until 64).map { b =>
      sum(when(pmod(col("f") * (7919L * b + 7L) + (104729L * b + 9973L), lit(P))
        >= half, 1).otherwise(-1)).as(s"m$b")
    }
    val sums = fp.groupBy("doc").agg(sumCols.head, sumCols.tail: _*)
    def bit(b: Int) = when(col(s"m$b") > 0, 1L).otherwise(0L)
    val lo = (0 until 32).map(b => bit(b) * (1L << b)).reduce(_ + _).as("lo")
    val hi = (32 until 64).map(b => bit(b) * (1L << (b - 32))).reduce(_ + _).as("hi")
    val bandKeys = (0 until nBands).map { j =>
      (0 until bandBits).map(k => bit(j * bandBits + k) * (1L << k))
        .reduce(_ + _).as(s"k$j")
    }
    val sigs = sums.select(col("doc") +: lo +: hi +: bandKeys: _*)
    val banded = sigs.select(col("doc"), col("lo"), col("hi"),
      explode(array((0 until nBands).map(j =>
        struct(lit(j).as("band"), col(s"k$j").as("key"))): _*)).as("bk"))
      .select(col("doc"), col("lo"), col("hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("doc").as("doc_a"), col("lo").as("lo_a"),
        col("hi").as("hi_a"), col("band"), col("key"))
      .join(banded.select(col("doc").as("doc_b"), col("lo").as("lo_b"),
        col("hi").as("hi_b"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-dup inside hyperplane-LSH buckets: only
    * vectors whose sign-signatures collide are compared. Exact cosine
    * verification keeps precision at 1. `hash` selects the hyperplane
    * family, [[DetHash]] (default, bit-identical doubles in SQL via
    * strict left-to-right folds) or [[XxHash64]] (codegen
    * [[graft.functions.HyperplaneBuckets]] — the throughput option
    * when the interpreted fold cost of the det arm matters more than
    * oracle verifiability). */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                       dim: Int, threshold: Double,
                       bits: Int = 4, tables: Int = 8,
                       hash: HashFamily = DetHash): DataFrame = hash match {
    case DetHash => embeddingNearDupDet(embs, idCol, vecCol, dim, threshold, bits, tables)
    case XxHash64 => embeddingNearDupXx(embs, idCol, vecCol, dim, threshold, bits, tables)
  }

  /** Semantic decontamination: corpus items whose EMBEDDING is close
    * (cosine ≥ threshold) to any held-out/eval item — the
    * embedding-space complement of [[benchmarkOverlap]]'s n-gram
    * screen, catching paraphrases and near-translations that share no
    * word-8-gram. Bipartite LSH: both sides key by the same
    * hyperplane sign signatures, so only bucket collisions pay an
    * exact cosine; precision stays 1 (LSH affects recall only).
    *
    * Scale shape: the eval set is tiny next to a 100 TB corpus, so
    * its banded keys AND its vectors ride as broadcast dims; the
    * corpus streams through the bucket equi-join with no shuffle
    * except the ids-only candidate distinct. Output: one row per
    * leaking (corpus, eval) pair with the verified cosine. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            dim: Int, threshold: Double,
                            bits: Int = 4, tables: Int = 8,
                            hash: HashFamily = DetHash): DataFrame = {
    def banded(df: DataFrame, id: String) = hash match {
      case DetHash => df.select(col(idCol).as(id),
        posexplode(Vectors.detHyperplaneKeys(col(vecCol), dim, bits, tables))
          .as(Seq("t", "key")))
      case XxHash64 => df.select(col(idCol).as(id),
        posexplode(Vectors.hyperplaneBuckets(col(vecCol), dim, bits, tables, seed = 1000))
          .as(Seq("t", "key")))
    }
    val cosOf = hash match {
      case DetHash => (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        Vectors.cosineFold(a, b, dim)
      case XxHash64 => (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        Vectors.cosine(a, b)
    }
    val cand = banded(corpus, "corpus_id")
      .join(broadcast(banded(evalSet, "eval_id")), Seq("t", "key"))
      .select("corpus_id", "eval_id").distinct()
    cand
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_vc")), "corpus_id")
      .join(broadcast(evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("_ve"))), "eval_id")
      .select(col("corpus_id"), col("eval_id"),
        cosOf(col("_vc"), col("_ve")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup END-TO-END: find embedding
    * near-dup pairs ([[embeddingNearDup]]), cluster them
    * ([[connectedComponents]]), keep each cluster's min-id
    * representative plus every unclustered item — the one-call form a
    * pretraining pipeline runs to drop semantically redundant
    * documents (copies in other words: templated rewrites, boilerplate
    * variants) that no lexical pass catches. `items` is the table to
    * prune (any payload columns), `embs` the id→vector side; they
    * join only on ids, so 100 TB of text never rides the near-dup
    * shuffles — just the vectors, then an ids-only anti-join. */
  def applySemanticDedup(items: DataFrame, idCol: String,
                         embs: DataFrame, embIdCol: String, vecCol: String,
                         dim: Int, threshold: Double,
                         bits: Int = 4, tables: Int = 8,
                         hash: HashFamily = DetHash): DataFrame = {
    val pairs = embeddingNearDup(embs, embIdCol, vecCol, dim, threshold,
      bits, tables, hash).select("id_a", "id_b")
    applyNearDups(items, idCol, pairs, "id_a", "id_b")
  }

  /** xxhash64 arm of [[embeddingNearDup]]. */
  private def embeddingNearDupXx(embs: DataFrame, idCol: String, vecCol: String,
                                 dim: Int, threshold: Double,
                                 bits: Int, tables: Int): DataFrame = {
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bucketed = embs.select(col(idCol).as("id"),
      posexplode(Vectors.hyperplaneBuckets(col(vecCol), dim, bits, tables, seed = 1000))
        .as(Seq("t", "b")))
      .withColumn("bk", struct(col("t"), col("b"))).drop("t", "b")
    // candidate pairs dedup on IDS ONLY — a pair colliding in several
    // tables must cost one cosine, not `tables`, and the distinct
    // shuffle must carry two longs, not two 64-float payloads; vectors
    // join back per unique pair for the verify
    val cand = bucketed.select(col("id").as("id_a"), col("bk"))
      .join(bucketed.select(col("id").as("id_b"), col("bk")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand.join(vecs.toDF("id_a", "v_a"), "id_a")
      .join(vecs.toDF("id_b", "v_b"), "id_b")
      .select(col("id_a"), col("id_b"), Vectors.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** [[DetHash]] arm of [[embeddingNearDup]]: hyperplane components
    * are rationals from a multiplicative hash of (table, bit, dim) —
    * computable identically in SQL — and every float reduction (the
    * sign dots and the verify cosine) is a STRICT LEFT-TO-RIGHT fold
    * (`aggregate` here ≡ `list_reduce` in DuckDB), so the accumulated
    * doubles are bit-identical across engines and the full oracle
    * hash-matches. Interpreted higher-order folds are the point, not a
    * compromise: fixed order is what buys parity. */
  private def embeddingNearDupDet(embs: DataFrame, idCol: String, vecCol: String,
                                  dim: Int, threshold: Double,
                                  bits: Int, tables: Int): DataFrame = {
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = embs.select(col(idCol).as("id"),
      posexplode(Vectors.detHyperplaneKeys(col(vecCol), dim, bits, tables))
        .as(Seq("t", "key")))
    // ids-only candidate distinct + vector join-back (same shuffle
    // diet as the xx arm); the verify cosine itself stays the strict
    // fold, once per unique pair
    val cand = banded.select(col("id").as("id_a"), col("t"), col("key"))
      .join(banded.select(col("id").as("id_b"), col("t"), col("key")), Seq("t", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand.join(vecs.toDF("id_a", "v_a"), "id_a")
      .join(vecs.toDF("id_b", "v_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        Vectors.cosineFold(col("v_a"), col("v_b"), dim).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cross-document repeated-span removal — fixed-width-gram
    * exact-substring dedup in the spirit of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"),
    * with w-token grams standing in for the suffix array: every
    * occurrence of a w-token gram beyond its corpus-wide FIRST
    * occurrence (ordered by (doc id, token position)) marks its w
    * token positions covered, and each document is rebuilt from its
    * uncovered tokens in order. Unlike [[dedupLines]] (whole-line
    * granularity) or [[applyNearDups]] (whole-doc granularity), this
    * removes verbatim boilerplate *inside* otherwise-unique documents
    * — the license-header / navigation-chrome case.
    *
    * Output: one row per input doc — (idCol, textCol rebuilt,
    * n_tokens, n_removed). Docs shorter than w tokens pass through
    * untouched; a doc whose every token is covered survives with
    * empty text (corpus row count is preserved, unlike the
    * whole-doc dedup variants).
    *
    * Scale design: the only corpus-sized shuffles key on the gram
    * (winner aggregation, map-side combinable min-struct — identical
    * shape to [[dedupLines]]' combiner) and on the doc id (coverage
    * distinct + rebuild). Nothing enumerates pairs: a gram occurring
    * n times contributes n aggregation rows, not n² — boilerplate
    * repeated a million times collapses in the map-side combine. */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    require(w >= 2, "span width must be >= 2 tokens")
    val toks = docs.select(col(idCol).as("_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    // gram occurrences from array slices (no per-doc window needed)
    val occ = docs.select(col(idCol).as("_id"), split(col(textCol), " ").as("wts"))
      .filter(size(col("wts")) >= w)
      .select(col("_id"), posexplode(
        transform(sequence(lit(0), size(col("wts")) - w),
          i => array_join(slice(col("wts"), i + 1, lit(w)), " "))).as(Seq("pos", "gram")))
    // corpus-wide first occurrence per gram: min over a single packed
    // key (doc id and position are both non-negative; positions are
    // bounded far below the 1e6 packing base)
    val key = col("_id") * lit(1000000L) + col("pos")
    val winners = occ.groupBy("gram").agg(min(key).as("_wk"))
    val covered = occ.join(winners, "gram")
      .filter(key =!= col("_wk"))
      .select(col("_id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ").as("_kept_text"),
        count(lit(1)).as("_n_kept"))
    docs.select(col(idCol).as("_id"), size(split(col(textCol), " ")).as("n_tokens"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("_kept_text"), lit("")).as(textCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }
}
