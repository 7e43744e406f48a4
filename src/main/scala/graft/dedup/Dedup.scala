package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.Text
import graft.Checkpoints.CutOps

/** Deduplication operators (SURVEY.md §2c): exact, MinHash+LSH, SimHash,
  * and n-gram-Jaccard verification.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-groupBy on a 128-bit digest (never on
  *    raw text) — map-side partial aggregation, one shuffle of digests;
  *  - MinHash/SimHash signatures are computed in one codegen'd projection
  *    (no UDFs, no explode of shingles);
  *  - candidate pairs come from bucket joins on (band, band-signature)
  *    keys, with a bucket-size cap (`MaxBucket`) so a degenerate bucket
  *    (boilerplate text at web scale) cannot blow up the self-join —
  *    the standard "stop bucket" guard;
  *  - only candidates ever pay the exact-verification cost.
  */
object Dedup {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4

  /** Buckets larger than this are dropped from candidate generation:
    * they are boilerplate-heavy and would make the within-bucket join
    * quadratic. At 100 TB this cap is what keeps LSH near-linear.
    */
  val MaxBucket = 64

  /** d01: exact dedup — group by content digest, keep the smallest id.
    * Digest, not raw text, is the shuffle key: 16 bytes/row regardless
    * of document size.
    */
  def d01DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Deterministic near-duplicate corpus: the documents plus a copy of
    * each long-enough document with its last 3 tokens dropped
    * (offset ids). Gives the near-dup operators real positives to find
    * while staying a pure function of the driver-provided testdata.
    */
  def nearDupCorpus(docs: DataFrame): DataFrame = {
    // NOTE (r14): a fan-out here was measured on the whole family —
    // net negative for the light-kernel members (d28 +1.2 s from ~1000
    // extra tiny tasks) even though heavy-kernel members won; the
    // fan-out is applied per-op where measured positive instead
    // (d40's truth pass, d46's signature census — see those sites).
    val toks = Text.wsTokens(col("text"))
    val trunc = docs
      .where(size(toks) >= 12)
      .withColumn("text", concat_ws(" ", slice(toks, lit(1), size(toks) - 3)))
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(trunc)
  }

  /** (doc_id, toks, shingles): distinct word 3-gram shingles. */
  def shingled(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.wsTokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) >= 3)
      .withColumn("shingles", expr(
        "array_distinct(transform(sequence(0, size(toks)-3), " +
          "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"))

  /** Modulus shared by every dedup hash (shingle hash, permutations,
    * band signatures): mod-prime arithmetic keeps every intermediate
    * below 2^63, so the DuckDB oracle reproduces signatures exactly —
    * no unsigned wrap-around semantics to replicate.
    */
  val P = graft.text.Text.FpMod // 1e9+7

  /** The per-shingle mod-prime poly hash as a SQL expression over a
    * `shingles` column — the signature substrate's own hashing
    * ([[withSignature]]'s first stage), exposed for d40's hashed
    * truth space. Native fused kernel when installed, bit-identical
    * SQL fallback otherwise.
    */
  private[graft] def hashedShinglesExpr(spark: SparkSession): String =
    if (spark.catalog.functionExists("graft_polyhash"))
      "transform(shingles, s -> graft_polyhash(s, 17, 31))"
    else
      s"transform(shingles, s -> aggregate(split(s, ''), 17L, (b, c) -> (b * 31 + ascii(c)) % $P))"

  /** MinHash signature: NumHashes universal-hash minima over shingles.
    * Each shingle string is poly-hashed to [0, P) ONCE; the per-seed
    * "permutations" are (a_s·h + b_s) mod P — 64× less string hashing
    * than the naive formulation. One projection, codegen'd natively
    * when the graft extensions are installed.
    */
  def withSignature(sh: DataFrame): DataFrame =
    if (sh.sparkSession.catalog.functionExists("graft_minhash_str"))
      // fully fused shingles→signature kernel (MinHashFromStrings):
      // no transform() layer, no intermediate hash array —
      // bit-identical to the SQL fallback below
      sh.withColumn("sig", expr(s"graft_minhash_str(shingles, $NumHashes)"))
    else
      sh.withColumn("shash", expr(hashedShinglesExpr(sh.sparkSession)))
        .withColumn("sig", expr(s"transform(sequence(0, ${NumHashes - 1}), " +
          s"s -> array_min(transform(shash, h -> " +
          s"(((s+1) * 906150257L) % $P * pmod(h, $P) + (s * 741103597L + 13L) % $P) % $P)))"))
        .drop("shash")

  /** (doc_id, shingles, sig), persisted: the signature computation is
    * the expensive projection (NumHashes minima per doc) and is read
    * from several downstream branches (band census, both self-join
    * sides, signature join-back) — without persisting, Catalyst inlines
    * it into each branch and the band explode re-evaluates it per band.
    * Size ≈ (64×8B sig + shingle hashes) per doc — well under 1% of raw
    * text at any scale, spills to disk if needed.
    */
  def signatureTable(docs: DataFrame): DataFrame =
    withSignature(shingled(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate pairs from LSH buckets (doc_a < doc_b, deduped across
    * bands), with both signatures attached. Bucket-size cap applied.
    * The band rows carry only (doc_id, band_id, band_sig) — 24 bytes —
    * so the bucket-join shuffle never moves signatures or shingles;
    * signatures are joined back only for the surviving pairs.
    */
  /** One row per (doc, band): (doc_id, band_id, band_sig) plus any
    * extra columns requested — the shared band projection for batch LSH
    * and the streaming near-dup operator.
    */
  def bandRows(sigs: DataFrame, extra: String*): DataFrame =
    sigs.select((col("doc_id") +: extra.map(col)) :+
      explode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> " +
          s"struct(b AS band_id, aggregate(slice(sig, b*$RowsPerBand + 1, $RowsPerBand), " +
          s"1009L, (acc, x) -> (acc * 1000003L + x) % $P) AS band_sig))")).as("b"): _*)
      .select((col("doc_id") +: extra.map(col)) :+ col("b.band_id") :+ col("b.band_sig"): _*)

  def lshCandidates(sigs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val bd = bandRows(sigs)
    val useful = bd.groupBy("band_id", "band_sig").count()
      .where(col("count").between(2, maxBucket))
      .select("band_id", "band_sig")
    val in = bd.join(useful, Seq("band_id", "band_sig"))
    val a = in.select(col("band_id"), col("band_sig"), col("doc_id").as("doc_a"))
    val b = in.select(col("band_id"), col("band_sig"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band_id", "band_sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
  }

  /** Signature-agreement Jaccard estimate over (sig_a, sig_b): native
    * compare-and-count loop when the extension is registered (the
    * zip_with/filter chain is CodegenFallback and would knock the LSH
    * verify projection out of whole-stage codegen), identical int
    * count either way.
    */
  def estJaccardExpr(spark: SparkSession): String =
    if (spark.catalog.functionExists("graft_sigmatch"))
      s"graft_sigmatch(sig_a, sig_b) / cast($NumHashes as double)"
    else
      s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($NumHashes as double)"

  /** d06: MinHash+LSH near-dup pairs with the signature-agreement
    * Jaccard estimate.
    */
  def d06MinHashLsh(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, dir))
    val sigs = signatureTable(corpus)
    // materialize the small survivor set eagerly so the persisted
    // signature table can be released NOW instead of leaking for the
    // session's lifetime (cacheManager entries are not GC-cleaned;
    // localCheckpoint blocks are) — the s05 pattern
    val out = lshCandidates(sigs)
      .withColumn("est_jaccard", expr(estJaccardExpr(spark)))
      .where(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
      .cutLineage
    sigs.unpersist()
    out
  }

  /** d46's banding plans: every (bands, rows) factorization of the
    * 64-hash signature. All powers of two, so the S-curve's s^r and
    * (1−s^r)^b evaluate by REPEATED SQUARING — a fixed multiplication
    * tree both engines replay bit-identically (no pow()).
    */
  val TuningPlans: Seq[(Int, Int)] =
    Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1))

  /** The S-curve crossover (1/b)^(1/r), rounded to 6 in ONE place
    * (driver arithmetic baked as a literal into both the plan and the
    * generated oracle SQL, so no cross-engine pow() is ever compared).
    */
  def tuningSStar(b: Int, r: Int): Double =
    BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** x^(2^k) as a Column by repeated squaring. */
  private def sqCol(x: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    if (k == 0) x else { val t = sqCol(x, k - 1); t * t }

  /** d46: LSH banding-plan tuner — the measurement a corpus owner runs
    * before committing b×r for a near-dup pass: for every (b, r)
    * factorization of the 64-hash signature, (a) the ANALYTIC S-curve
    * characterization against d06's 0.5 threshold — crossover
    * s* = (1/b)^(1/r), false-positive area ∫₀^t P(s)ds and
    * false-negative area ∫_t^1 (1−P(s))ds with P(s) = 1−(1−s^r)^b,
    * midpoint rule on a fixed 1000-point grid (s never hits t: odd
    * numerator over even denominator) — and (b) the MEASURED collision
    * volume on this corpus: Σ C(bucket,2) candidate pairs the plan
    * would generate and how many buckets the MaxBucket cap would
    * drop. Wide-band plans (few rows) flood candidates; narrow plans
    * miss borderline pairs — the table shows both costs at once,
    * which is the whole point of a tuner.
    *
    * Scale shape: ONE signature pass (persisted, the d06 frame);
    * each plan re-folds band signatures from the in-memory sig arrays
    * (24-byte band rows, the d06 shuffle discipline) into a
    * bucket-census aggregate — counts only, candidate pairs are NEVER
    * materialized (Σ c·(c−1)/2 over the census). The analytic grid is
    * a constant 1000-row frame per plan.
    */
  def d46LshTuning(spark: SparkSession, dir: String): DataFrame = {
    // r14: a scan fan-out here was A/B-measured NEUTRAL at 32 cores
    // and −0.8 s at 8 cores (the census shuffles already spread the
    // work; extra map tasks only added overhead) — left alone.
    // r15 (r14 VERDICT #5, guide §1.2/§5): the persisted signatureTable
    // was a SINGLE-consumer frame here (only the band projection reads
    // it), so the persist+unpersist pair and the shingles column it
    // pinned in memory were pure overhead — project to `sig` and let
    // the one consumer compute it; signatures are bit-identical.
    val sigs = withSignature(shingled(nearDupCorpus(Tables.documents(spark, dir))))
      .select("sig")
    // ONE pass over the signature table for all 7 plans: each doc row
    // explodes to Σ b = 127 (plan, band, band_sig) triples in a single
    // projection, then a single (plan, band, sig) census — 7 separate
    // jobs cost 7 scans and 7 shuffles for the same information
    // (measured 3.4 s → one job)
    val allBands = TuningPlans.map { case (b, r) =>
      s"transform(sequence(0, ${b - 1}), bb -> struct(${b}L AS bands, " +
        s"bb AS band_id, aggregate(slice(sig, bb*$r + 1, $r), " +
        s"1009L, (acc, x) -> (acc * 1000003L + x) % $P) AS band_sig))"
    }.mkString("concat(", ", ", ")")
    // materialize the struct arrays BEFORE exploding (the d45 lesson:
    // Generate over an inline higher-order generator re-evaluates the
    // whole fold pathologically); 127 × 24 B per doc. r15: LAZY cut —
    // the census job materializes the checkpoint (Generate still reads
    // the materialized attribute, never the inline fold); the eager
    // cut's dedicated job was overhead, and with no persist left there
    // is no release-ordering reason to keep the second eager cut below
    // either.
    val arr = sigs.select(expr(allBands).as("bb_arr")).cutLineageLazy
    val bd = arr.select(explode(col("bb_arr")).as("bb"))
      .select(col("bb.bands"), col("bb.band_id"), col("bb.band_sig"))
    val measured = bd.groupBy("bands", "band_id", "band_sig")
      .agg(count(lit(1)).as("c"))
      .groupBy("bands")
      .agg(
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).cast("long")
          .as("n_candidate_pairs"),
        coalesce(sum(when(col("c") > MaxBucket, 1L).otherwise(0L)), lit(0L))
          .as("n_capped_buckets"))
      .join(broadcast(spark.createDataFrame(
        TuningPlans.map { case (b, r) => (b.toLong, r.toLong) })
        .toDF("bands", "rows_per_band")), Seq("bands"), "right")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidate_pairs"), lit(0L)).as("n_candidate_pairs"),
        coalesce(col("n_capped_buckets"), lit(0L)).as("n_capped_buckets"))
    val analytic = TuningPlans.map { case (b, r) =>
      val kr = java.lang.Long.numberOfTrailingZeros(r.toLong).toInt
      val kb = java.lang.Long.numberOfTrailingZeros(b.toLong).toInt
      val s = (col("id") * 2 + 1).cast("double") / lit(2000.0)
      val pCand = lit(1.0) - sqCol(lit(1.0) - sqCol(s, kr), kb)
      spark.range(0, 1000).select(
        sum(when(s < 0.5, pCand).otherwise(lit(0.0))).as("fp"),
        sum(when(s > 0.5, lit(1.0) - pCand).otherwise(lit(0.0))).as("fn"))
        .select(lit(b.toLong).as("bands"),
          lit(tuningSStar(b, r)).as("s_star"),
          round(col("fp") / lit(1000.0), 6).as("fp_area"),
          round(col("fn") / lit(1000.0), 6).as("fn_area"))
    }.reduce(_ unionByName _)
    measured.join(analytic, Seq("bands"))
      .select(col("bands"), col("rows_per_band"), col("s_star"),
        col("fp_area"), col("fn_area"),
        col("n_candidate_pairs"), col("n_capped_buckets"))
  }

  /** d45: corpus NOVELTY curve — the diminishing-returns census behind
    * every "is more crawl worth ingesting?" decision: bucket the corpus
    * into ten doc_id-range deciles (value-based bounds from one 1-row
    * broadcast agg — q44's device, NO global sort) and report, per
    * decile, the shingle occurrence count, the distinct shingles
    * present, and the shingles whose GLOBAL first occurrence lands in
    * that decile. A flattening n_novel curve is the saturation signal:
    * late data re-states early data (and dedup will delete most of it);
    * a flat-high curve says the corpus is still growing in content.
    *
    * Scale shape: shingles leave the map side as mod-prime longs (the
    * d06 polynomial — never strings); ONE gram-keyed shuffle builds the
    * (hash, decile, n) frame, from which the occurrence census, the
    * distinct census and the first-seen census are all tiny rollups —
    * no second pass over the token stream, output exactly 10 rows.
    */
  def d45NoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    // hash WITHIN the array (one higher-order eval per document) and
    // materialize the long arrays before exploding: Generate over an
    // inline higher-order generator re-evaluates the whole shingle
    // expression pathologically (measured 8.1 s vs 0.2 s exploding a
    // materialized attribute at sf0.1 — the d06 signatureTable lesson),
    // and hashing pre-explode means gram STRINGS never leave their doc
    // row; the checkpoint holds 8 bytes per gram instance.
    val hashArr =
      if (spark.catalog.functionExists("graft_polyhash"))
        "transform(shingles, s -> graft_polyhash(s, 17, 31))"
      else
        s"transform(shingles, s -> aggregate(split(s, ''), 17L, (b, c) -> (b * 31 + ascii(c)) % $P))"
    val hv = shingled(docs)
      .select(col("doc_id"), expr(hashArr).as("hv"))
      .cutLineage
    val grams = hv.select(col("doc_id"), explode(col("hv")).as("h"))
    // materialize the (hash, decile, n) frame ONCE: without it Catalyst
    // re-plans the whole explode+hash+aggregate pipeline under BOTH
    // census branches (measured 2× the operator's cost at sf0.1); the
    // frame is 3 longs × |distinct grams|·10 — vocabulary-sized, far
    // below the token stream, and released eagerly (the d06 discipline)
    val g1 = grams.crossJoin(broadcast(bounds))
      .withColumn("decile",
        ((col("doc_id") - col("lo")) * 10 / (col("hi") - col("lo") + 1)).cast("long"))
      .groupBy("h", "decile").agg(count(lit(1)).as("n"))
      .cutLineage
    val occ = g1.groupBy("decile")
      .agg(sum("n").as("n_occurrences"), count(lit(1)).as("n_distinct"))
    val novel = g1.groupBy("h").agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_novel"))
    occ.join(novel, Seq("decile"), "left")
      .select(col("decile"), col("n_occurrences"), col("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** d44: SPLIT-LEAKAGE audit — near-dup contamination ACROSS a
    * train/validation split (the self-decontamination run every corpus
    * release needs: an eval doc whose near-duplicate sits in train is
    * a leaked answer, and doc-level random splitting guarantees such
    * pairs exist whenever the corpus has near-dups at all). Split
    * assignment is a pure deterministic function of doc_id (mod-prime
    * permutation, ~20% val — layout-invariant, so twins land
    * independently); the pair evidence is exactly d06's verified LSH
    * output. Reported: the pair census by split kind plus the
    * actionable number — how many VAL documents have at least one
    * train-side near-dup partner and must be dropped or re-split.
    *
    * Scale shape: d06's (banded LSH, capped buckets); the audit on top
    * touches only the pair list — split tags are computed per pair
    * row, no join back to the corpus.
    */
  def d44SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    def isVal(c: Column): Column = c % P * 888000131L % P % 5 === 0
    def split(c: Column): Column = when(isVal(c), "val").otherwise("train")
    val pairs = d06MinHashLsh(spark, dir)
      .withColumn("sa", split(col("doc_a")))
      .withColumn("sb", split(col("doc_b")))
      .cutLineage
    val census = pairs
      .groupBy(concat(lit("pairs_"), least(col("sa"), col("sb")),
        lit("_"), greatest(col("sa"), col("sb"))).as("metric"))
      .agg(count(lit(1)).as("n"))
    val leakedVal = pairs.where(col("sa") =!= col("sb"))
      .select(when(col("sa") === "val", col("doc_a"))
        .otherwise(col("doc_b")).as("val_doc"))
      .agg(count_distinct(col("val_doc")).as("n"))
      .select(lit("val_docs_leaked").as("metric"), col("n"))
    census.unionByName(leakedVal)
  }

  /** d40: near-dup RECALL evaluation — e10's index-quality harness
    * applied to the dedup tier (the QA a curation team runs before
    * trusting a new LSH config: how many TRUE near-dup partners does
    * the banding actually surface?): ground truth is EXACT Jaccard
    * ≥ 0.6 over HASHED shingle sets (the signature substrate's own
    * mod-prime space — see the body comment for the r13 measurement
    * and the collision bound) for a FIXED 50-doc panel against the
    * whole corpus (cost ∝ panel × corpus, one broadcast scan — never
    * all-pairs), compared
    * per panel doc against d08's LSH-candidate + exact-verify output.
    * n_found < n_true on a panel doc means the band tier dropped a
    * real duplicate (a cap eviction or an unlucky signature) — the
    * drift signal that triggers re-banding, exactly like e10's recall
    * number triggers re-indexing.
    */
  def d40DedupEval(spark: SparkSession, dir: String): DataFrame = {
    // fan the scan out (r14, guide §2.5): the truth pass fuses the
    // shingle/hash kernel AND the 50-way per-pair intersect into the
    // corpus scan stage — single-task on the one-row-group local
    // input (measured ~31 task-sec on ~4 effective tasks); no-op on
    // split-rich production inputs (Tables.fanOutScan)
    val corpus = nearDupCorpus(
      Tables.fanOutScan(Tables.documents(spark, dir)))
    // Truth space = HASHED shingle sets (r13): the per-pair intersect
    // on ~25-char shingle STRINGS was 2/3 of d40's sf1 wall time
    // (string hashing per probe); on the mod-prime longs — the SAME
    // space the d06 signatures estimate and the oracle replays —
    // d40's sf1 wall time drops 67.4 → 32.6 s (min-of-2, the r12
    // verdict's #3: the eval was 40% of the whole sf1 gate). Distinct
    // strings can collide mod P (≈ n²/2P per doc — 1e-4 at 500
    // shingles); both engines hash identically so the truth stays
    // bit-equal cross-engine, and the collision-free contract at the
    // verification SFs is what the oracle certifies.
    val sh = shingled(corpus)
      .select(col("doc_id"), expr(s"array_distinct(${hashedShinglesExpr(spark)})")
        .as("shingles"))
    val panel = sh.where(col("doc_id") < 50)
      .select(col("doc_id").as("panel_id"), col("shingles").as("sh_p"))
    // exact truth via [[d40TruthPairs]]: at this 50-doc panel the
    // pairwise broadcast shape wins (measured); an eval-suite-sized
    // panel crosses over to the probe shape automatically — both
    // bit-equal, spec-pinned on each side of the threshold
    val truth = d40TruthPairs(spark, sh, panel, panelCount = 50)
    val found = d08NgramJaccard(spark, dir)
    val foundBoth = found.select(col("doc_a").as("panel_id"), col("doc_b").as("other_id"))
      .unionByName(found.select(col("doc_b").as("panel_id"), col("doc_a").as("other_id")))
    val hits = truth.join(foundBoth, Seq("panel_id", "other_id"), "left_semi")
      .groupBy("panel_id").agg(count(lit(1)).as("n_found"))
    truth.groupBy("panel_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("panel_id"), "left")
      .select(col("panel_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
  }

  /** Panel size at which [[d40TruthPairs]] switches from the pairwise
    * broadcast shape to the probe shape
    * (`spark.graft.dedup.evalProbePanel`). The pairwise plan's cost
    * grows linearly in the panel while the probe plan's is flat in it
    * (measured at sf0.1: 6.9 s pairwise vs 28.9 s probe at panel 50 —
    * the probe pays a full-corpus shingle explode regardless), so the
    * crossover sits at eval-suite panel sizes, not spot-check ones.
    * The r12 verdict's corpus-aware hypothesis (probe wins at sf1) is
    * measured FALSE: at sf1/panel-50 the probe shape measures
    * 329.7 s vs the pairwise's 67.4 s (min-of-2, 4.9x slower) — the replica corpus
    * shares shingles heavily, so the probe's shingle join explodes on
    * hot shingles (Σ corpus_count × panel_count per shingle) while
    * the pairwise broadcast stays one scan. The threshold stays
    * PANEL-keyed; the sf1 cost item was closed by moving the truth to
    * the hashed-shingle space instead (see [[d40DedupEval]]).
    */
  private def d40ProbeThreshold(spark: SparkSession): Int =
    spark.conf.get("spark.graft.dedup.evalProbePanel", "500").toInt

  /** d40's exact ground truth — (panel_id, other_id) pairs with exact
    * Jaccard ≥ 0.6 — computed through one of two BIT-EQUAL plans
    * selected by panel size (the measured crossover the r11 verdict
    * asked to make real):
    *  - panel ≤ threshold: corpus × broadcast(panel) with the exact
    *    size-ratio prefilter, per-pair array_intersect;
    *  - panel > threshold: the d14 probe shape — explode both sides,
    *    broadcast-join on the shingle, count matches per pair. Flat
    *    in panel size; the right plan when the panel is an eval
    *    SUITE (thousands of docs), not a spot-check.
    * Bit-equality holds because shingle arrays are array_distinct'd:
    * |A∪B| = |A|+|B|−|A∩B| exactly, so both shapes compare the SAME
    * double `intersect/union` against 0.6 (spec-pinned on both sides
    * of the threshold).
    */
  private[graft] def d40TruthPairs(
      spark: SparkSession, sh: DataFrame, panel: DataFrame,
      panelCount: Long): DataFrame =
    if (panelCount <= d40ProbeThreshold(spark)) {
      // |A∪B| = |A|+|B|−|A∩B| (arrays are array_distinct'd), so the
      // union is NEVER materialized (measured at sf1: 67.4 → 63.2 s —
      // modest alone; the big win was the hashed truth space, see
      // d40DedupEval). Same integers → bit-identical jaccard, the
      // identity the probe shape already relies on.
      sh.crossJoin(broadcast(panel))
        .where(col("doc_id") =!= col("panel_id"))
        .where(least(size(col("sh_p")), size(col("shingles"))).cast("double") >=
          lit(0.6) * greatest(size(col("sh_p")), size(col("shingles"))).cast("double"))
        .withColumn("inter",
          size(array_intersect(col("sh_p"), col("shingles"))).cast("double"))
        .withColumn("jaccard", col("inter") /
          (size(col("sh_p")) + size(col("shingles")) - col("inter")))
        .where(col("jaccard") >= 0.6)
        .select(col("panel_id"), col("doc_id").as("other_id"))
    } else {
      val pGrams = panel
        .select(col("panel_id"), size(col("sh_p")).as("np"),
          explode(col("sh_p")).as("shingle"))
      sh.select(col("doc_id"), size(col("shingles")).as("nd"),
          explode(col("shingles")).as("shingle"))
        .join(broadcast(pGrams), Seq("shingle"))
        .where(col("doc_id") =!= col("panel_id"))
        .groupBy("panel_id", "doc_id", "np", "nd")
        .agg(count(lit(1)).as("inter"))
        .where(least(col("np"), col("nd")).cast("double") >=
          lit(0.6) * greatest(col("np"), col("nd")).cast("double"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("np") + col("nd") - col("inter")).cast("double"))
        .where(col("jaccard") >= 0.6)
        .select(col("panel_id"), col("doc_id").as("other_id"))
    }

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 vote sums packed
    * into one long. Codegen'd fold — no UDF, no explode.
    *
    * Token hash: two independent poly hashes packed as h1·P + h2 —
    * ~60 bits of SQL-reproducible entropy (bits 60-63 are always 0;
    * the 16-bit chunk buckets over the low 48 bits are unaffected).
    */
  def simhash(df: DataFrame, toksCol: String): Column =
    if (df.sparkSession.catalog.functionExists("graft_simhash_str"))
      // fully fused tokens→simhash kernel (SimHashFromStrings) —
      // bit-identical to the SQL fallback below
      expr(s"graft_simhash_str($toksCol)")
    else {
      // hash each token once; per-bit votes then only shift/mask longs
      val thash =
        s"transform($toksCol, t -> " +
          s"aggregate(split(t, ''), 17L, (b, c) -> (b * 31 + ascii(c)) % $P) * ${P}L + " +
          s"aggregate(split(t, ''), 19L, (b, c) -> (b * 37 + ascii(c)) % $P))"
      val bitVotes =
        s"""aggregate($thash,
           |  transform(sequence(0, 63), b -> 0L),
           |  (acc, h) -> zip_with(acc,
           |     transform(sequence(0, 63), b -> shiftright(h, b) & 1),
           |     (x, y) -> x + 2*y - 1))""".stripMargin
      expr(
        s"""aggregate(zip_with($bitVotes, sequence(0, 63),
           |  (c, b) -> if(c > 0, shiftleft(1L, b), 0L)), 0L, (a, x) -> a | x)""".stripMargin)
    }

  /** d07: SimHash near-dup — bucket by 16-bit chunks (any pair within
    * hamming distance 4 shares at least one identical chunk of the 4),
    * verify with bit_count(xor).
    */
  def d07SimHash(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, dir))
    val base = corpus
      .select(col("doc_id"), Text.wsTokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) >= 1)
    val sh = base.withColumn("simhash", simhash(base, "toks"))
      .select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), c -> " +
          "struct(c AS chunk_id, shiftright(simhash, c*16) & 65535 AS chunk_val))")).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk_val"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // read 3× below
    val useful = sh.groupBy("chunk_id", "chunk_val").count()
      .where(col("count").between(2, MaxBucket)).select("chunk_id", "chunk_val")
    val in = sh.join(useful, Seq("chunk_id", "chunk_val"))
    val a = in.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = in.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // eager-release (s05 pattern): checkpoint the survivor pairs, then
    // drop the persisted per-chunk frame before returning
    val out = a.join(b, Seq("chunk_id", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").as("hamming"))
      .distinct()
      .where(col("hamming") <= 6)
      .cutLineage
    sh.unpersist()
    out
  }

  /** Large-star step (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): every node connects its strictly-larger
    * neighbors to the minimum of its neighborhood (incl. itself).
    * One groupBy + one join, both on 8-byte node ids.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = bidir.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    bidir.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star step: orient edges high→low; every node connects its
    * smaller neighbors (and itself) to the minimum of that set.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val mins = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(mins, Seq("u"))
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("e"))
      .select(col("e.a").as("u"), col("e.b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** d11: near-duplicate clusters — connected components over the
    * verified near-dup pairs via alternating large-star/small-star
    * (converges in O(log n) rounds vs diameter for plain min-label
    * propagation). Output one row per multi-member cluster:
    * (cluster_id = min doc_id, n_members) — "keep cluster_id, drop the
    * rest" is the canonical dedup policy.
    *
    * Scale shape: the expensive part (LSH candidates + Jaccard verify)
    * is materialized ONCE via `localCheckpoint`, and every round's
    * result is checkpointed too, so lineage stays one step deep — a
    * late-round executor loss never recomputes the whole chain (on a
    * real cluster swap `localCheckpoint` for a reliable `checkpoint`
    * dir). Convergence is one tiny `(count, bit_xor(hash))` action per
    * round against the checkpointed frame; near-dup graphs converge in
    * 2-3 rounds. All shuffles carry 16-byte edge rows.
    */
  /** Lineage barrier for the CC loop. Default: `localCheckpoint` (fast,
    * executor-local blocks — right for local mode and healthy clusters).
    * Set `spark.graft.cc.checkpointDir` to a reliable path (HDFS/object
    * store) and rounds checkpoint durably instead: a late-round executor
    * loss then re-reads the checkpoint rather than recomputing the LSH
    * pipeline. The library-wide `spark.graft.checkpoint.reliable` knob
    * ([[graft.Checkpoints]]) covers this site too when the CC-specific
    * dir isn't set.
    */
  private def barrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.cc.checkpointDir") match {
      case Some(d) =>
        // setCheckpointDir appends a UUID subdir — only (re)set on change
        if (!spark.sparkContext.getCheckpointDir.exists(_.startsWith(d)))
          spark.sparkContext.setCheckpointDir(d)
        df.checkpoint(eager = false)
      // lazy cut (r14): every barrier is followed by the signature
      // count, which is the materializing action — the eager cut's own
      // job per star round was pure driver overhead
      case None => df.cutLineageLazy
    }
  }

  /** The converged star forest over the verified near-dup edges
    * (u = member, v = component minimum) — the CC kernel shared by the
    * cluster census (d11) and survivor selection (d23).
    */
  private def ccStarForest(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, dir))
    val sigs = signatureTable(corpus)
    val sh = sigs.select(col("doc_id"), col("shingles"))
    // barrier here (not just inside convergeForest) so the persisted
    // signature table can be released before the CC rounds run
    val edges = barrier(lshCandidates(sigs).select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      // |A∪B| = |A|+|B|−|A∩B| on distinct'd shingles — same integer
      // divisor, bit-identical jaccard, no per-pair union allocation
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.6)
      .select(col("doc_a").as("u"), col("doc_b").as("v")))
    sigs.unpersist()
    convergeForest(spark, edges, "d11")
  }

  /** Converge an arbitrary undirected edge set `(u, v)` to its star
    * forest (u = member, v = component minimum) via alternating
    * large-star/small-star rounds — the CC kernel, usable by any
    * operator that produces an edge list (text near-dups for d11/d23,
    * semantic embedding edges for d30). Every round is barriered so
    * lineage stays one step deep, and convergence is one tiny
    * `(count, bit_xor(hash))` action per round.
    */
  private[graft] def convergeForest(
      spark: SparkSession, edges0: DataFrame, what: String): DataFrame = {
    var edges = barrier(edges0)

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    var converged = false
    var rounds = 0
    // Near-dup graphs converge in 2-3 alternating rounds and converged
    // runs exit early, so a generous cap costs nothing; long boilerplate
    // chains at corpus scale can legitimately need many rounds. The cap
    // exists only to bound a pathological input, and hitting it means
    // the edge set is NOT a star forest — aggregating it would emit
    // silently wrong cluster ids, so fail instead.
    val maxRounds = spark.conf.getOption("spark.graft.cc.maxRounds").map(_.toInt).getOrElse(20)
    while (!converged && rounds < maxRounds) {
      val next = barrier(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what connected components did not converge in $maxRounds alternating " +
          "large-star/small-star rounds; the edge set is not a star forest and the " +
          "cluster aggregation would be wrong. Raise spark.graft.cc.maxRounds.")
    edges
  }

  /** Persisted location of the converged star forest, keyed by
    * (dir, appId) like the e06 ANN index so concurrent sessions never
    * clobber each other. Root defaults to /tmp; point
    * `spark.graft.cc.forestDir` at shared storage on a cluster.
    */
  private[graft] def starForestPath(spark: SparkSession, dir: String): String = {
    val root = spark.conf.get("spark.graft.cc.forestDir", "/tmp")
    s"$root/graft_cc_forest_${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(spark.sparkContext.applicationId.hashCode)
  }

  private val forestLock = new Object

  /** The star forest, materialized ONCE per (dir, appId) and shared by
    * the cluster census (d11) and survivor selection (d23): in
    * production, connected components is the expensive nightly stage
    * and its converged edge set is exactly what every downstream
    * consumer reads — recomputing the LSH + verify + CC pipeline per
    * consumer would pay the dominant cost twice. Build-once through
    * the Hadoop FileSystem API with a `_BUILT` marker committed after
    * the write (the e06/m02 pattern), so a failed build never serves a
    * half-written forest.
    */
  private[graft] def materializedStarForest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val path = starForestPath(spark, dir)
    forestLock.synchronized {
      val fs = new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())
      val marker = new HPath(path, "_BUILT")
      if (!fs.exists(marker)) {
        ccStarForest(spark, dir).write.mode("overwrite").parquet(path)
        fs.create(marker, true).close()
      }
    }
    spark.read.schema("u BIGINT, v BIGINT").parquet(path)
  }

  def d11DupClusters(spark: SparkSession, dir: String): DataFrame =
    // at convergence the edge set is a star forest: u = member,
    // v = component minimum
    materializedStarForest(spark, dir).groupBy(col("v").as("cluster_id"))
      .agg((countDistinct(col("u")) + lit(1)).as("n_members"))
      .where(col("n_members") >= 2)

  /** d23: near-dup cluster survivorship — which twin a dedup pass
    * actually KEEPS. d11 answers "which documents are duplicates of
    * each other"; the curation decision is "keep one per cluster": the
    * longest member (truncated twins lose to their full document), ties
    * broken by the smaller doc_id. Exact integer comparisons only, so
    * the choice can never flip cross-engine.
    *
    * Scale shape: the star forest is tiny relative to the corpus (only
    * near-dup members), the label frame carries 16-byte rows, and the
    * survivor rank is a window partitioned by cluster — per-cluster
    * work over small groups, never a global sort.
    */
  def d23ClusterSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = materializedStarForest(spark, dir)
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    val lens = nearDupCorpus(Tables.documents(spark, dir))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_len"))
    val byCluster = Window.partitionBy("cluster_id")
    val rank = byCluster.orderBy(col("n_len").desc, col("doc_id"))
    labels.join(lens, Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("rn", row_number().over(rank))
      .where(col("rn") === 1 && col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"),
        col("doc_id").as("survivor_id"), col("n_len").as("survivor_len"))
  }

  /** d28: asymmetric CONTAINMENT dedup — catches "A is inside B"
    * (quotation, aggregation pages, truncated twins) that symmetric
    * Jaccard misses when sizes differ: |A∩B|/|A∪B| shrinks with the
    * size gap while containment |A∩B|/|A| stays at 1.0 for a true
    * inclusion. Candidates come from the shared LSH table; both
    * directional containments are exact-integer ratios, so the
    * threshold can never flip cross-engine. (Production caveat,
    * documented: MinHash banding is Jaccard-biased — for extreme size
    * asymmetry a size-stratified bucketing raises recall; the
    * verification semantics here are unchanged.)
    */
  def d28Containment(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, dir))
    val sigs = signatureTable(corpus)
    val sh = sigs.select(col("doc_id"), col("shingles"))
    // eager-release (s05 pattern), same as d08
    val out = lshCandidates(sigs).select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / col("na")).as("containment_a"),
        (col("inter") / col("nb")).as("containment_b"))
      .where(greatest(col("containment_a"), col("containment_b")) >= 0.9)
      .cutLineage
    sigs.unpersist()
    out
  }

  /** d08: exact n-gram Jaccard verification of the LSH candidates —
    * only candidate pairs (not the cross product) pay the set-intersect
    * cost.
    */
  def d08NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, dir))
    val sigs = signatureTable(corpus)
    val sh = sigs.select(col("doc_id"), col("shingles"))
    // eager-release (s05 pattern): the survivor pairs are tiny; release
    // the persisted signature table before returning
    val out = lshCandidates(sigs).select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        // |A∪B| = |A|+|B|−|A∩B| on distinct'd shingles: same integer
        // divisor, bit-identical jaccard, no per-pair union allocation
        (col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= 0.6)
      .cutLineage
    sigs.unpersist()
    out
  }
}
