package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.Checkpoints.CutOps

/** Structured Streaming operators over the `events` table (SURVEY.md §2c).
  *
  * Locally these run the file source to completion with
  * `Trigger.AvailableNow` into a memory sink so the result is a
  * deterministic DataFrame the driver can oracle-check; on a cluster the
  * same plans run unbounded (swap source/sink, keep the transforms).
  * The testdata is a single parquet file → exactly one micro-batch, so
  * update-mode emissions are exact.
  */
object Streams {

  private val nameCounter = new AtomicInteger(0)

  /** Stage `dir/fileName` into a source directory for the file stream
    * (which requires a directory; the testdata ships bare files).
    * Idempotent. Two modes via `spark.graft.stream.staging`:
    *  - `symlink` (default): a /tmp directory of symlinks — free, but
    *    inherently local-filesystem-only (the sandbox contract);
    *  - `copy`: a real byte copy through the Hadoop FileSystem API —
    *    honest on any Hadoop-compatible store; on a cluster point
    *    `spark.graft.stream.stagingDir` at shared storage (an HDFS/S3A
    *    URI) and every executor reads the staged directory.
    */
  private[graft] def stageStreamSource(
      spark: SparkSession, dir: String, fileName: String): String = {
    val src = java.nio.file.Paths.get(dir, fileName).toAbsolutePath
    val key = Integer.toHexString(src.toString.hashCode)
    spark.conf.get("spark.graft.stream.staging", "symlink") match {
      case "symlink" =>
        val stageDir = java.nio.file.Paths.get("/tmp", s"graft_stream_src_$key")
        java.nio.file.Files.createDirectories(stageDir)
        val link = stageDir.resolve(fileName)
        if (!java.nio.file.Files.exists(link)) java.nio.file.Files.createSymbolicLink(link, src)
        stageDir.toString
      case "copy" =>
        import org.apache.hadoop.fs.{FileUtil, Path => HPath}
        val root = spark.conf.get("spark.graft.stream.stagingDir", "/tmp")
        val hconf = spark.sessionState.newHadoopConf()
        val stageDir = new HPath(s"$root/graft_stream_src_copy_$key")
        val dst = new HPath(stageDir, fileName)
        val dstFs = stageDir.getFileSystem(hconf)
        val srcPath = new HPath(src.toString)
        if (!dstFs.exists(dst)) {
          dstFs.mkdirs(stageDir)
          FileUtil.copy(srcPath.getFileSystem(hconf), srcPath, dstFs, dst,
            false, true, hconf)
        }
        stageDir.toString
      case other => throw new IllegalArgumentException(
        s"spark.graft.stream.staging must be symlink or copy, got: $other")
    }
  }

  private def fileStream(spark: SparkSession, dir: String, fileName: String): DataFrame = {
    val stagePath = stageStreamSource(spark, dir, fileName)
    val schema = spark.read
      .parquet(java.nio.file.Paths.get(dir, fileName).toString).schema
    spark.readStream.schema(schema).parquet(stagePath)
  }

  /** Raw events as a stream. TIMESTAMP(NANOS) parquet (ScaleUp replica
    * layout) must be read with nanosAsLong and converted to a µs
    * timestamp (generator emits whole µs); current driver testdata
    * already carries a µs timestamp, which passes through untouched —
    * same normalization as the batch path in [[graft.Tables]].
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = fileStream(spark, dir, "events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Stateful operators allocate one state store per shuffle partition,
    * and the micro-batch pays per-store setup/commit/maintenance every
    * trigger — with 32 partitions that fixed cost dominates small
    * batches. Streaming state is keyed, so results are partition-count
    * invariant: plan the stream narrow (8). On a real cluster size this
    * to the state volume, not to the CPU count.
    */
  private val StreamShufflePartitions = "8"

  /** Conf override for the stream-plan width: at bulk-load state
    * volumes (s05 at sf1 carries ~10⁵ bucket keys) the per-store
    * snapshot commit is the bottleneck and MORE stores parallelize it;
    * at trickle volumes the per-store fixed cost dominates and fewer
    * win. Size to state volume, not CPU count.
    */
  private def streamShufflePartitions(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.stream.shufflePartitions")
      .getOrElse(StreamShufflePartitions)

  /** Each streaming operator plans inside its own cloned session
    * (shared SparkContext, private SQLConf), so the narrow
    * shuffle-partition setting never leaks into concurrent batch
    * queries on the caller's session and overlapping stream runs
    * cannot clobber each other's conf.
    */
  private def streamSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(spark))
    // newSession starts from the context defaults — carry the caller's
    // graft knobs (e.g. staging mode) and streaming conf (e.g. the
    // state-store provider) across so conf-driven behavior survives
    // the private-session isolation
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.graft.") || k.startsWith("spark.sql.streaming."))
        s.conf.set(k, v)
    }
    s
  }

  private def runToCompletion(out: DataFrame, mode: OutputMode): (SparkSession, String) = {
    val spark = out.sparkSession
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (spark, name)
  }

  /** The streaming-harness FLOOR probe: the cheapest possible query
    * through the exact same machinery every s-operator pays — cloned
    * session, staged file source, one AvailableNow micro-batch, memory
    * sink — with a projection-only plan (no state, no shuffle). What
    * it measures is the fixed per-operator harness cost (query
    * start/stop, micro-batch planning, sink setup), which is ~2.5 s on
    * this box and pure noise floor for bench purposes: graft.Bench
    * records it as `floor_sec` so tools/bench_diff.py can compare
    * s-family kernels net of the harness instead of letting box drift
    * in the fixed cost trip the regression gate (the r8/r9 repeat
    * blemish — w17, then s10, flagged by floor drift alone).
    */
  def streamFloorProbe(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark)
    val src = eventsStream(s, dir).select(col("event_id"))
    val (sess, name) = runToCompletion(src, OutputMode.Append())
    sess.table(name).agg(count(lit(1)).as("n"))
  }

  /** s01: tumbling 1-hour window aggregation with a watermark — the
    * canonical streaming groupBy. Watermark bounds state at scale;
    * complete output mode makes the local memory-sink result total, so
    * it matches the batch `date_trunc('hour')` oracle exactly.
    */
  def s01StreamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(streamSession(spark), dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))
    val (s, name) = runToCompletion(agg, OutputMode.Complete())
    s.table(name)
  }

  /** s25: BACKFILL STITCH — the lambda→kappa migration pattern every
    * production stream eventually needs: history that predates the
    * stream's checkpoint is aggregated by a BATCH leg, everything from
    * the cutover instant on by the STREAMING leg, and the read stitches
    * the two into one view that must equal a pure-batch aggregate over
    * all of history. Exactly-once at the seam is by PARTITION, not by
    * dedup: the cutover is one timestamp literal (the corpus midpoint,
    * truncated to the hour so every (bucket, type) key belongs to
    * exactly ONE leg — spec-pinned disjointness), the batch leg takes
    * ts < cutover, the stream takes ts ≥ cutover, and the merged
    * roll-up sums additively. No event can be double-counted or lost
    * because no event can satisfy both predicates. Shares s01's oracle
    * shape: the stitched view equals the full-history hourly rollup.
    *
    * Scale shape: the batch leg is a plain hourly aggregate over the
    * archive; the stream leg is s01's bounded-state windowed count;
    * the stitch is a union + re-aggregate over two ALREADY-AGGREGATED
    * frames (bucket-count rows, not events).
    */
  def s25StreamBackfill(spark: SparkSession, dir: String): DataFrame =
    s25Legs(spark, dir)
      .groupBy("bucket", "event_type")
      .agg(sum("n_events").as("n_events"), sum("sum_value").as("sum_value"))

  /** The two legs pre-merge, tagged — exposed so the spec can pin seam
    * disjointness (no (bucket, type) key appears in both legs).
    */
  private[graft] def s25Legs(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val ev = graft.Tables.events(ss, dir)
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi")).head()
    val emptyLegs = ev.where(lit(false))
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .withColumn("leg", lit("backfill"))
    // empty archive: no cutover exists — the stitched view is empty
    if (bounds.isNullAt(0)) return emptyLegs
    val midMicros = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val cutover = expr(
      s"date_trunc('hour', timestamp_micros(${midMicros}L))")
    val hist = ev.where(col("ts") < cutover)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .withColumn("leg", lit("backfill"))
    val liveAgg = eventsStream(ss, dir)
      .where(col("ts") >= cutover)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))
    val (s, name) = runToCompletion(liveAgg, OutputMode.Complete())
    hist.unionByName(s.table(name).withColumn("leg", lit("live")))
  }

  /** s26: d43's temperature-scaled sampling weights maintained LIVE as
    * the corpus streams in — the weight table an epoch sampler reads is
    * recomputed every trigger from the running language census, so the
    * mixing policy tracks ingestion instead of waiting for a nightly
    * batch. Stream state is ONE count per language (complete-mode
    * census bounded by |languages| at any corpus size — the s07
    * device); the temperature projection itself is d43's EXACT column
    * algebra applied batch-side to the census table each trigger, so
    * the live weights are bit-identical to what the batch operator
    * would publish over the same prefix (oracle: d43's).
    */
  def s26StreamTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val l = fileStream(streamSession(spark), dir, "documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val (s, name) = runToCompletion(l, OutputMode.Complete())
    graft.text.Corpus.temperatureProject(s.table(name))
  }

  /** s27: q46's grouped mode maintained LIVE over the lineitem ingest
    * stream — the dominant-value dashboard tile (top carrier per lane,
    * dominant status per class) kept current as facts land: a
    * stream-static join to the orders dimension, then a complete-mode
    * (priority, flag) census whose state is bounded by the VALUE
    * DOMAINS (|priorities|·|flags| rows at any stream length — the s23
    * device), with q46's EXACT mode-election algebra applied batch-side
    * to the census table each trigger. Oracle: q46's — the live mode
    * over the full prefix must equal the batch answer exactly.
    */
  def s27StreamGroupMode(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val orders = graft.Tables.orders(ss, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val counts = fileStream(ss, dir, "lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    val (s, name) = runToCompletion(counts, OutputMode.Complete())
    graft.queries.Relational.modeProject(s.table(name))
  }

  /** s07: streaming curation gate — d18's scalar quality gates (token
    * bounds, stopword density, uppercase ratio, PII) applied AT
    * INGESTION: the document stream is projected through the gates
    * (stateless, map-only — no streaming state at all) and rolled up
    * into per-source admit/reject counts. This is the "filter at the
    * door" deployment of the curation funnel: the expensive repetition
    * gate stays in the nightly batch pass (d18), the cheap codegen'd
    * gates run on the firehose. Oracle: the identical batch projection.
    */
  /** The cheap ingestion gates shared by s07 (counting) and w06
    * (landing-zone write): token bounds, stopword density, uppercase
    * ratio, PII — stateless, codegen'd, null-safe divisors (same as
    * d18: empty/null text fails the gate as null instead of crashing
    * the stream under ANSI mode).
    */
  private def admittedCol: org.apache.spark.sql.Column = {
    import graft.text.{Corpus, Text}
    val t = col("text")
    val toks = Text.wsTokens(lower(t))
    size(toks).cast("long").between(50L, 100000L) &&
      (size(filter(toks, tok => tok.isin(Text.StopEn: _*))).cast("double") /
        when(size(toks) === 0, lit(null)).otherwise(size(toks)).cast("double") >= 0.05) &&
      (length(regexp_replace(t, "[^A-Z]", "")).cast("double") /
        when(length(t) === 0, lit(null)).otherwise(length(t)).cast("double") <= 0.3) &&
      (size(regexp_extract_all(t, lit(Corpus.EmailRe), lit(0))) +
        size(regexp_extract_all(t, lit(Corpus.Ipv4Re), lit(0))) +
        size(regexp_extract_all(t, lit(Corpus.PhoneRe), lit(0))) === 0)
  }

  def s07StreamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val gated = fileStream(streamSession(spark), dir, "documents.parquet")
      .select(col("source"), admittedCol.as("admitted"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"))
    val (s, name) = runToCompletion(gated, OutputMode.Complete())
    s.table(name)
  }

  /** w06: streaming partitioned landing-zone sink — the WRITE side of
    * ingestion, which the memory-sink s-operators don't exercise: the
    * document firehose passes the s07 gates and admitted rows land
    * append-mode in a source-partitioned parquet layout through the
    * exactly-once file-sink commit protocol (per-batch file manifest
    * in `_spark_metadata` + checkpoint). A resumed/re-run query
    * replays from the checkpoint and adds NOTHING when no new data
    * arrived — the guarantee that makes bulk ingest retryable (pinned
    * by spec). The returned rollup reads the layout back through the
    * sink's own metadata log (only committed files are visible), so
    * the oracle pins write→read integrity of the gated projection,
    * like w01-w05 do for the batch writers.
    */
  def w06SinkStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val out = sinkPaths(ss, dir)._1
    runSinkStreamed(ss, dir)
    ss.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, source STRING")
      .parquet(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  private[graft] def sinkPaths(spark: SparkSession, dir: String): (String, String) = {
    val key = s"${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(spark.sparkContext.applicationId.hashCode)
    (s"/tmp/graft_stream_sink_$key", s"/tmp/graft_stream_sink_ckpt_$key")
  }

  /** Run (or resume) the w06 landing-zone query to completion. */
  private[graft] def runSinkStreamed(ss: SparkSession, dir: String): Unit = {
    val (out, ckpt) = sinkPaths(ss, dir)
    runSinkStreamedFrom(fileStream(ss, dir, "documents.parquet"), out, ckpt)
  }

  /** The landing-zone write from any (streaming) documents frame to an
    * explicit (layout, checkpoint) pair — exposed for multi-batch
    * specs.
    */
  private[graft] def runSinkStreamedFrom(
      docs: DataFrame, out: String, ckpt: String): Unit = {
    // an all-rejected (or empty) batch writes no files: pre-create the
    // layout dir so the schema-explicit read-back returns the empty
    // frame an empty ingest day should produce (the w01 lesson)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val q = docs
      .where(admittedCol)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .partitionBy("source")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** s08: streaming incremental dedup — the ingestion-time half of
    * d19: the incoming document stream is digested, STREAM-STATIC
    * left-anti joined against the existing corpus's digest table (the
    * static side is a plain DataFrame — at scale a bucketed digest
    * table — probed per micro-batch with no streaming state), then
    * watermark-free dropDuplicates on the digest handles within-stream
    * repeats. Admitted rows land append-mode; the tiny rollup on the
    * sink is batch. Output is arrival-order invariant: counts of
    * distinct new digests and already-known rows, not which twin won.
    */
  def s08StreamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val existingDigests = graft.Tables.documents(ss, dir)
      .where(col("doc_id") % 5 =!= 0)
      .select(md5(col("text")).as("h")).distinct()
    val incoming = fileStream(ss, dir, "documents.parquet")
      .where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val admitted = incoming
      .join(existingDigests, Seq("h"), "left_anti")
      .dropDuplicates("h")
      .select(col("h"))
    val (sess, name) = runToCompletion(admitted, OutputMode.Append())
    val nIncoming = graft.Tables.documents(sess, dir)
      .where(col("doc_id") % 5 === 0).count()
    sess.table(name)
      .agg(count(lit(1)).as("n_distinct_new"))
      .select(lit(nIncoming).as("n_incoming"), col("n_distinct_new"))
  }

  /** s09: streaming benchmark decontamination — d14's contamination
    * check applied AT INGESTION: the incoming document stream is
    * projected to its distinct 5-grams (stateless explode) and
    * STREAM-STATIC inner-joined against the broadcast benchmark gram
    * set; the per-doc contaminated-gram count is the only streaming
    * state (one row per flagged doc). This is how eval-set hygiene is
    * actually enforced on a firehose: the benchmark set is small and
    * static (broadcast once per micro-batch), training n-grams never
    * shuffle, and a flagged doc is known before it lands. Oracle: d14's
    * batch SQL — one AvailableNow pass over the corpus must reproduce
    * the nightly batch result exactly.
    */
  def s09StreamDecontam(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runDecontam(dir, fileStream(ss, dir, "documents.parquet"))
  }

  /** Wire a (streaming) documents frame through the decontamination
    * gate. Exposed so specs can drive it with a multi-file /
    * multi-batch source (the runSessionize pattern).
    */
  private[graft] def runDecontam(dir: String, docs: DataFrame): DataFrame = {
    import graft.text.Corpus
    val ss = docs.sparkSession
    val benchGrams = Corpus.fiveGrams(
        graft.Tables.documents(ss, dir).where(Corpus.isBenchCol))
      .select("gram").distinct()
    val flagged = Corpus.fiveGrams(docs.where(!Corpus.isBenchCol))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
    val (sess, name) = runToCompletion(flagged, OutputMode.Complete())
    sess.table(name)
  }

  /** s11: streaming stratified sampler — d13's deterministic
    * per-language keep-predicate applied AT INGESTION: the document
    * stream is filtered by the pure (doc_id, lang) hash threshold
    * (stateless, codegen'd — reproducible sampling needs no RNG state
    * and no coordination), rolled up to per-language admitted counts.
    * Because the predicate is a pure row function, one AvailableNow
    * pass selects exactly the batch sample — d13's oracle checks it.
    */
  def s11StreamSampler(spark: SparkSession, dir: String): DataFrame =
    runSampler(fileStream(streamSession(spark), dir, "documents.parquet"))

  /** The sampler gate on any (streaming) documents frame — exposed for
    * multi-batch specs.
    */
  private[graft] def runSampler(docs: DataFrame): DataFrame = {
    val gated = docs
      .where(graft.text.Text.sampleKeepCol)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    val (s, name) = runToCompletion(gated, OutputMode.Complete())
    s.table(name)
  }

  /** s13: the reference-LM quality filter (d31) deployed at
    * ingestion — the fluency gate a crawl firehose runs before
    * anything lands: the bigram model trains ONCE on the static bench
    * slice and broadcasts into a stateless stream-static left join
    * over the arriving documents' bigram stream, rolled up per doc in
    * complete mode. Stateless with respect to the stream (the model
    * is static, the rollup keyed by doc_id), so state never grows
    * with the firehose — the same shape as s09's decontamination
    * gate. One AvailableNow pass must reproduce the d31 batch scores
    * exactly (shared oracle); the multi-batch spec pins
    * batch-boundary invariance.
    */
  def s13StreamQualityLm(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runQualityLm(dir, fileStream(ss, dir, "documents.parquet"))
  }

  /** The LM scorer on any (streaming) documents frame — exposed for
    * multi-batch specs. The coverage ratio is computed on the sink
    * table (after the streaming agg), from the same two exact
    * integers as d31.
    */
  private[graft] def runQualityLm(dir: String, docs: DataFrame): DataFrame = {
    import graft.text.Corpus
    val ss = docs.sparkSession
    val model = Corpus.tokenBigrams(
        graft.Tables.documents(ss, dir).where(Corpus.isBenchCol))
      .groupBy("gram").agg(count(lit(1)).as("ref_freq"))
    val scored = Corpus.tokenBigrams(docs.where(!Corpus.isBenchCol))
      .join(broadcast(model), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("ref_freq").isNull, 1)).as("n_unseen"),
        sum(coalesce(col("ref_freq"), lit(0L))).as("sum_ref_freq"))
    val (sess, name) = runToCompletion(scored, OutputMode.Complete())
    sess.table(name).withColumn("coverage",
      (col("n_bigrams") - col("n_unseen")).cast("double") /
        col("n_bigrams").cast("double"))
  }

  /** s17: d26's boilerplate line scrubber deployed AT INGESTION. The
    * boilerplate digest TABLE builds in the nightly batch pass and
    * stays distributed — never collected, never capped, so the scrub
    * is d26's exact semantics at ANY dictionary size (a literal-array
    * dictionary was tried and diverged the moment the dictionary
    * outgrew its cap — the sf1 replica corpus makes nearly every line
    * boilerplate). Each micro-batch derives its rows' lines, joins the
    * static digest table (stream-static: the planner picks broadcast
    * vs shuffled hash per batch — the dictionary's size is a serving-
    * time fact, not a compile-time promise), and reassembles PER BATCH:
    * every document is wholly contained in its arrival row, so the
    * groupBy is batch-local and exact with zero cross-batch state —
    * the foreachBatch shape s12/s14 use. Row-identical to d26 (shared
    * oracle); batch boundaries cannot change results.
    */
  def s17StreamLineScrub(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runLineScrub(dir, fileStream(ss, dir, "documents.parquet"))
  }

  /** The line scrubber on any (streaming) documents frame — exposed
    * for multi-batch specs. The near-dup corpus twin (d26 runs over
    * docs + truncated twins) is derived per-row with a stateless
    * 1-or-2-row explode.
    */
  private[graft] def runLineScrub(dir: String, docs: DataFrame): DataFrame = {
    import graft.text.Corpus
    val ss = docs.sparkSession
    // materialize the nightly dictionary ONCE (eager, lineage cut):
    // the per-batch join references it every micro-batch, and without
    // the barrier each batch would re-run the whole batch-side
    // census — corpus scan, line explode, digest agg — per trigger
    val dict = Corpus.boilerplateLines(
        graft.dedup.Dedup.nearDupCorpus(graft.Tables.documents(ss, dir)))
      .select(col("h"), lit(1).as("bp"))
      .cutLineage
    val key = s"${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(ss.sparkContext.applicationId.hashCode) + "_" +
      nameCounter.incrementAndGet()
    val out = s"/tmp/graft_s17_out_$key"
    val ckpt = s"/tmp/graft_s17_ckpt_$key"
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val twins = batch
          .select(col("doc_id"), col("text"), graft.text.Text.wsTokens(col("text")).as("toks"))
          .select(explode(expr(
            """if(size(toks) >= 12,
              |   array(named_struct('doc_id', doc_id, 'text', text),
              |         named_struct('doc_id', doc_id + 1000000L,
              |                      'text', concat_ws(' ', slice(toks, 1, size(toks) - 3)))),
              |   array(named_struct('doc_id', doc_id, 'text', text)))""".stripMargin)).as("d"))
          .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
        Corpus.scrubAgg(Corpus.lineFrame(twins).join(dict, Seq("h"), "left"))
          .write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // an empty source can fire zero batches — the contract is an empty
    // result, not PATH_NOT_FOUND on the never-created sink dir
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(ss.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(out))) ss.read.parquet(out)
    else {
      import org.apache.spark.sql.types._
      ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType), StructField("clean_text", StringType),
          StructField("n_lines", LongType), StructField("n_dropped", LongType))))
    }
  }

  /** s19: streaming trending / windowed top-k — "the 3 hottest event
    * types of every hour", the live-dashboard staple. The STREAM side
    * is exactly s01's watermarked tumbling-window count (bounded state:
    * watermark × |types| rows, complete-mode emission); the top-k rank
    * is applied AT READ TIME over the emitted window counts — ranking
    * inside the stream would need a second stateful stage re-sorting
    * every window on every trigger, while the sink-side window rank
    * runs over the tiny (windows × types) aggregate frame (the s10
    * read-time-rank shape). Ties break by event_type so the cut is
    * deterministic cross-engine.
    */
  def s19StreamTrending(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = eventsStream(streamSession(spark), dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n_events"))
    val (s, name) = runToCompletion(agg, OutputMode.Complete())
    val w = Window.partitionBy("bucket").orderBy(col("n_events").desc, col("event_type"))
    s.table(name)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
  }

  case class CapDoc(doc_id: Long, source: String, lang: String, n_chars: Long)
  case class CapState(n: Long)
  case class CapOut(doc_id: Long, source: String, lang: String, n_chars: Long, rnk: Long)

  /** s18: per-domain document caps AT INGESTION — d27's Common-Crawl
    * curation rule ("no domain may dominate the corpus") enforced as
    * admission control on the firehose: a document is admitted only
    * while its source's admitted count is below K. State is ONE
    * counter per source — bounded by the number of domains, not the
    * stream — and each batch's slice of a source is reduced through a
    * size-K bounded insertion (the iterator is never materialized:
    * O(K) memory per group no matter how hot the domain runs in a
    * batch), admitting its K−taken smallest doc_ids in order.
    *
    * Semantics, stated honestly: within a batch the admission rule is
    * deterministic (K-smallest); ACROSS batches it is first-come-
    * first-served — an id arriving after its source's cap filled is
    * rejected even if smaller than an admitted one, because admission
    * at ingestion cannot be retracted. One AvailableNow pass over the
    * corpus (the driver's layout) therefore equals d27's batch rule
    * exactly (shared oracle), and any id-ordered arrival equals it at
    * every batch size (spec-pinned on a two-batch ordered split).
    */
  def s18StreamDomainCap(spark: SparkSession, dir: String): DataFrame =
    runDomainCap(fileStream(streamSession(spark), dir, "documents.parquet"))

  /** The admission-control cap on any (streaming) documents frame —
    * exposed for multi-batch specs.
    */
  private[graft] def runDomainCap(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val K = 15
    val admitted = docs.select("doc_id", "source", "lang", "n_chars").as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[CapState, CapOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[CapState]) =>
          val taken = state.getOption.map(_.n).getOrElse(0L)
          val room = (K - taken).toInt
          if (room <= 0) Iterator.empty
          else {
            // bounded insertion: keep the `room` smallest doc_ids seen
            // so far in this batch slice — O(room) memory, one pass
            val best = new java.util.TreeMap[Long, CapDoc]()
            for (d <- it) {
              if (best.size < room) best.put(d.doc_id, d)
              else if (d.doc_id < best.lastKey()) {
                best.remove(best.lastKey()); best.put(d.doc_id, d)
              }
            }
            val out = best.values.toArray(new Array[CapDoc](0)).zipWithIndex
              .map { case (d, i) =>
                CapOut(d.doc_id, d.source, d.lang, d.n_chars, taken + i + 1) }
            state.update(CapState(taken + out.length))
            out.iterator
          }
      }
    val (s, name) = runToCompletion(admitted.toDF(), OutputMode.Append())
    s.table(name)
  }

  case class TransEvent(user_id: Long, event_id: Long, event_type: String,
    ts_us: Long)
  case class TransState(ts_us: Long, event_id: Long, ty: String)
  case class TransOut(prev_type: Option[String], next_type: String)

  // item is Option[Long]: an event whose props lacks '$.k' (or has
  // malformed JSON) yields a null item — batch g04's window treats
  // those as one valid null partition, so the stream must key them as
  // (None, day) rather than crash the encoder on a null primitive
  case class HandoffEvent(item: Option[Long], day: String, user_id: Long,
    event_id: Long, ts_us: Long)
  case class HandoffState(ts_us: Long, event_id: Long, user_id: Long)
  case class HandoffOut(prev_user: Option[Long], user_id: Long)

  /** s31: g04's user-graph PageRank with the handoff extraction AT
    * INGESTION — s28's stateful-walk pattern keyed by the ACTIVITY
    * STREAM (item = props.k, day) instead of the user: state is one
    * (ts, event_id, user) struct per live stream key (bounded by
    * catalog × horizon, never stream volume), each batch slice walks
    * in (ts, event_id) order and every event emits its predecessor's
    * user (None for a stream's first event). The read-time reduction
    * — census, damped kernel, TakeOrdered top-N — is g04's SHARED
    * code ([[graft.graph.Graph.pagerankTopN]]), so one AvailableNow
    * pass equals batch g04 exactly and the oracle is literally g04's.
    * Same in-order-across-batches ingestion contract as s28
    * (StreamsSpec pins a time-split two-batch run).
    */
  def s31StreamUserPagerank(spark: SparkSession, dir: String): DataFrame =
    runUserPagerank(eventsStream(streamSession(spark), dir))

  private[graft] def runUserPagerank(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    val nodes = ann.select(col("user_id").as("node")).distinct()
    graft.graph.Graph.pagerankTopN(nodes, handoffCountsOf(ann),
        graft.graph.Graph.TopUsers)
      .select(col("node").as("user_id"), col("pr"), col("rank"))
  }

  /** The streamed handoff annotation SHARED by s31 (user rank) and
    * s32 (user triangles): the per-(item, day) stateful walk run to
    * completion, one (prev_user, user_id) row per event — the
    * ingestion-time equivalent of batch g04/g06's lag window. State
    * is one (ts, event_id, user) struct per live stream key, bounded
    * by catalog × horizon, never stream volume.
    */
  private[graft] def streamedHandoffs(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    val per = events
      .select(expr("cast(get_json_object(props, '$.k') as long)").as("item"),
        expr("cast(to_date(ts) as string)").as("day"),
        col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us")).as[HandoffEvent]
      .groupByKey(e => (e.item, e.day))
      .flatMapGroupsWithState[HandoffState, HandoffOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[HandoffState]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[HandoffOut]()
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            out += HandoffOut(last.map(_.user_id), e.user_id)
            last = Some(HandoffState(e.ts_us, e.event_id, e.user_id))
          }
          last.foreach(state.update)
          out.iterator
      }
    val (s, name) = runToCompletion(per.toDF(), OutputMode.Append())
    s.table(name)
  }

  /** The handoff edge census over the streamed annotation — g04/g05's
    * (prev_type, next_type, n_trans) vocabulary.
    */
  private def handoffCountsOf(ann: DataFrame): DataFrame =
    ann
      .where(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"))
      .groupBy(col("prev_user").as("prev_type"), col("user_id").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))

  /** s32: g06's user-graph triangle census with the handoff
    * extraction AT INGESTION — the s31 pattern pointed at the third
    * graph kernel: the same stateful walk reduces the firehose to the
    * annotated handoff stream, and the read-time reduction (symmetrize
    * → degree-oriented wedge join → per-user clustering) is g06's
    * SHARED kernel ([[graft.graph.Graph.triangleCensus]]), so one
    * AvailableNow pass equals batch g06 exactly and the oracle is
    * literally g06's. Same in-order-across-batches ingestion contract
    * as s28/s31 (StreamsSpec pins a time-split two-batch run).
    */
  def s32StreamUserTriangles(spark: SparkSession, dir: String): DataFrame =
    runUserTriangles(eventsStream(streamSession(spark), dir))

  private[graft] def runUserTriangles(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    val nodes = ann.select(col("user_id").as("node")).distinct()
    graft.graph.Graph.triangleCensus(nodes,
      graft.graph.Graph.undirectedEdges(handoffCountsOf(ann)
        .select(col("prev_type").as("a"), col("next_type").as("b"))))
  }

  /** s33: g05's user communities with the handoff extraction AT
    * INGESTION — the twin discipline closing over the LPA kernel: the
    * shared stateful walk ([[streamedHandoffs]]) reduces the firehose,
    * and the read-time reduction (integer symmetrization → 5
    * deterministic sync-LPA rounds) is g05's SHARED kernel
    * ([[graft.graph.Graph.lpaFrom]]), so one AvailableNow pass equals
    * batch g05 exactly and the oracle is literally g05's.
    */
  def s33StreamUserCommunities(spark: SparkSession, dir: String): DataFrame =
    runUserCommunities(eventsStream(streamSession(spark), dir))

  private[graft] def runUserCommunities(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    val sym = graft.graph.Graph.symmetrized(handoffCountsOf(ann)).cutLineage
    graft.graph.Graph.lpaFrom(
      ann.select(col("user_id").as("node")).distinct().cutLineage, sym)
  }

  /** s34: g07's user components with the handoff extraction AT
    * INGESTION — the last graph kernel's twin (rank s31, triangles
    * s32, communities s33, components s34): the streamed census feeds
    * the SHARED large-star/small-star CC kernel
    * ([[graft.dedup.Dedup.convergeForest]]), so one AvailableNow pass
    * equals batch g07 exactly and the oracle is literally g07's.
    */
  def s34StreamUserComponents(spark: SparkSession, dir: String): DataFrame =
    runUserComponents(eventsStream(streamSession(spark), dir))

  private[graft] def runUserComponents(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    val edges = graft.graph.Graph.undirectedEdges(handoffCountsOf(ann)
        .select(col("prev_type").as("a"), col("next_type").as("b")))
      .select(col("a").as("u"), col("b").as("v"))
    val forest = graft.dedup.Dedup.convergeForest(events.sparkSession, edges, "s34")
    ann.select(col("user_id").as("node")).distinct()
      .join(forest.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** s35: g08's personalized PageRank with the handoff extraction AT
    * INGESTION — the twin discipline extended to the seeded-teleport
    * kernel: the shared stateful walk ([[streamedHandoffs]]) reduces
    * the firehose, and the read-time reduction (seed derivation +
    * teleport kernel + top-N merge) is g08's SHARED code
    * ([[graft.graph.Graph.pprFromCounts]]), so one AvailableNow pass
    * equals batch g08 exactly and the oracle is literally g08's.
    */
  def s35StreamUserPpr(spark: SparkSession, dir: String): DataFrame =
    runUserPpr(eventsStream(streamSession(spark), dir))

  private[graft] def runUserPpr(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    graft.graph.Graph.pprFromCounts(
        ann.select(col("user_id").as("node")).distinct(), handoffCountsOf(ann))
      .select(col("node").as("user_id"), col("ppr"), col("rank"))
  }

  /** s36: g09's k-core membership with the handoff extraction AT
    * INGESTION — the streamed census feeds the SHARED peel kernel
    * ([[graft.graph.Graph.kcoreCensus]]), so one AvailableNow pass
    * equals batch g09 exactly and the oracle is literally g09's.
    */
  def s36StreamUserKcore(spark: SparkSession, dir: String): DataFrame =
    runUserKcore(eventsStream(streamSession(spark), dir))

  private[graft] def runUserKcore(events: DataFrame): DataFrame = {
    val ann = streamedHandoffs(events)
    graft.graph.Graph.kcoreCensus(
      ann.select(col("user_id").as("node")).distinct(),
      graft.graph.Graph.undirectedEdges(handoffCountsOf(ann)
        .select(col("prev_type").as("a"), col("next_type").as("b"))))
  }

  /** s37: g10's Jaccard link prediction with the handoff extraction
    * AT INGESTION — the streamed census feeds the SHARED hub-capped
    * wedge kernel ([[graft.graph.Graph.linkPrediction]]), so one
    * AvailableNow pass equals batch g10 exactly and the oracle is
    * literally g10's.
    */
  def s37StreamLinks(spark: SparkSession, dir: String): DataFrame =
    runLinks(eventsStream(streamSession(spark), dir))

  private[graft] def runLinks(events: DataFrame): DataFrame =
    graft.graph.Graph.linkPrediction(
      graft.graph.Graph.undirectedEdges(
        handoffCountsOf(streamedHandoffs(events))
          .select(col("prev_type").as("a"), col("next_type").as("b"))))

  /** s38: g11's item co-engagement projection with the engagement
    * census AT INGESTION — the firehose reduces to the distinct
    * (user_id, item) frame via streaming `dropDuplicates` (state =
    * one key per distinct engagement pair: catalog-scale, never
    * stream volume — but UNBOUNDED for the life of the query, pairs
    * never age out); the read-time reduction (hub-capped pair
    * census + cosine + top-N) is g11's SHARED kernel
    * ([[graft.graph.Graph.itemCooccurrence]]), so one AvailableNow
    * pass equals batch g11 exactly and the oracle is literally g11's.
    *
    * Set `spark.graft.stream.dedupWatermark` (a duration, e.g.
    * "24 hours") and the dedup becomes `withWatermark` +
    * `dropDuplicatesWithinWatermark`: state for a pair is dropped
    * once the watermark passes its event time, so a long-running
    * deployment holds RECENTLY-SEEN pairs only. The trade is
    * re-emission — a pair re-engaging after the horizon lands twice
    * (the downstream census double-counts it); bounded state at the
    * cost of at-least-once per horizon is the standard posture.
    * Unset (the default), the unbounded-state contract above is the
    * semantics — asserted in SURVEY §2's s38 row, not just here.
    */
  def s38StreamItemCooccurrence(spark: SparkSession, dir: String): DataFrame =
    runItemCooccurrence(eventsStream(streamSession(spark), dir))

  private[graft] def runItemCooccurrence(events: DataFrame): DataFrame = {
    val ui = events.sparkSession.conf
      .getOption("spark.graft.stream.dedupWatermark") match {
      case Some(horizon) => events
        .select(col("user_id"),
          expr("cast(get_json_object(props, '$.k') as long)").as("item"),
          col("ts"))
        .where(col("item").isNotNull)
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("user_id", "item")
        .select("user_id", "item")
      case None => events
        .select(col("user_id"),
          expr("cast(get_json_object(props, '$.k') as long)").as("item"))
        .where(col("item").isNotNull)
        .dropDuplicates("user_id", "item")
    }
    val (s, name) = runToCompletion(ui, OutputMode.Append())
    graft.graph.Graph.itemCooccurrence(s.table(name))
  }

  /** s28: g01's transition-graph PageRank with the corpus-touching
    * pass AT INGESTION — the event firehose is reduced to the
    * ANNOTATED transition stream by a per-user stateful walk: state is
    * ONE (ts, event_id, type) struct per user (bounded by user count,
    * never stream volume), each batch slice is walked in (ts,
    * event_id) order, and every event emits exactly one row carrying
    * its predecessor type (None for a user's first event ever). The
    * node set and edge census — and from them the 10 damped power
    * iterations — run over that |types|-bounded frame via the kernel
    * SHARED with g01 ([[graft.graph.Graph.pagerankFrom]]), so a
    * single AvailableNow pass equals the batch g01 exactly and the
    * oracle is literally g01's.
    */
  def s28StreamPagerank(spark: SparkSession, dir: String): DataFrame =
    runPagerank(eventsStream(streamSession(spark), dir))

  /** s28's pipeline over an injected event stream. In-order arrival
    * per user ACROSS batches is the correctness contract (the
    * standard log-ingestion assumption: a later micro-batch carries
    * later events) — within a batch any order is fine (the slice is
    * sorted); the spec exercises a time-split two-batch run.
    */
  private[graft] def runPagerank(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    val per = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us")).as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[TransState]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[TransOut]()
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            out += TransOut(last.map(_.ty), e.event_type)
            last = Some(TransState(e.ts_us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
    val (s, name) = runToCompletion(per.toDF(), OutputMode.Append())
    val ann = s.table(name)
    val nodes = ann.select(col("next_type").as("node")).distinct()
    val counts = ann.where(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n_trans"))
    graft.graph.Graph.pagerankFrom(nodes, counts)
  }

  /** s30: b03's cost-sensitive class weights computed AT INGESTION —
    * the label census (the only corpus-touching pass) is a
    * complete-mode streaming groupBy over the embedding firehose
    * (state = |classes| counters, domain-bounded), and the weight
    * arithmetic runs at read time through the kernel SHARED with
    * batch b03 — one AvailableNow pass equals the batch operator
    * exactly, so the oracle is literally b03's.
    */
  def s30StreamClassWeights(spark: SparkSession, dir: String): DataFrame = {
    val census = fileStream(streamSession(spark), dir, "embeddings.parquet")
      .select(col("label").cast("long").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_class"))
    val (s, name) = runToCompletion(census, OutputMode.Complete())
    graft.ml.ReliefQueries.classWeightsFrom(s.table(name))
  }

  /** s29: e26's fold-split kNN classification with the QUERY fold
    * arriving as a stream — the online-serving deployment of the
    * evaluation loop: the train-fold index (capped buckets, vectors,
    * labels) is the static side; each arriving query joins its
    * hamming-1 probe buckets against it (stream-static hash join, no
    * streaming state at all), candidates land append-mode, and the
    * read-time top-3 + plurality vote + confusion census equal batch
    * e26 exactly — the oracle IS e26's.
    *
    * Scale shape: the stream carries (query, candidate, cosine) only
    * for probed capped buckets; the static side is the e05-discipline
    * index; the vote is a read-time rollup over the landed ≤ |cand|
    * frame (multi-probe repeats collapse at read, the s10 pattern).
    */
  def s29StreamKnnClassify(spark: SparkSession, dir: String): DataFrame =
    runKnnClassify(dir, fileStream(streamSession(spark), dir, "embeddings.parquet"))

  private[graft] def runKnnClassify(dir: String, embStream: DataFrame): DataFrame = {
    import graft.sim.Sim
    val ss = embStream.sparkSession
    val lbls = graft.Tables.embeddings(ss, dir)
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
    val corpus = Sim.emb(ss, dir)
      .withColumn("bucket", Sim.bucketColOf(Sim.SigBits, Some(ss)))
    val useful = corpus.groupBy("bucket").count()
      .where(col("count") <= Sim.MaxBucketE).select("bucket")
    val train = corpus.join(useful, Seq("bucket"))
      .where(col("vec_id") % 5 =!= 0)
      .select(col("bucket"), col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val hamming1 = s"array_union(array(bucket), transform(sequence(0, ${Sim.SigBits - 1}), " +
      "j -> bucket ^ shiftleft(1L, j)))"
    val queries = embStream
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Sim.dotOf(ss, "v", "v")))
      .where(col("nrm") > 0.0 && col("vec_id") % 5 === 0)
      .withColumn("bucket", Sim.bucketColOf(Sim.SigBits, Some(ss)))
      // the query itself must sit in a capped bucket (e26's `in` set)
      .join(useful, Seq("bucket"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr(hamming1)).as("bucket"))
    val scored = queries.join(train, Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        (Sim.dotOf(ss, "qv", "v") / (col("qn") * col("nrm"))).as("cosine"))
    val (sess, name) = runToCompletion(scored, OutputMode.Append())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val top = sess.table(name)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select("query_id", "neighbor_id")
    val votes = top
      .join(lbls.select(col("vec_id").as("neighbor_id"), col("lbl").as("nlbl")),
        "neighbor_id")
      .groupBy("query_id", "nlbl").agg(count(lit(1)).as("c"))
    val pred = votes
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("c").desc, col("nlbl"))))
      .where(col("rn") === 1)
      .select(col("query_id"), col("nlbl").as("pred_label"))
    pred.join(lbls.select(col("vec_id").as("query_id"), col("lbl").as("true_label")),
        "query_id")
      .groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
  }

  case class AttrEvent(user_id: Long, event_id: Long, event_type: String,
    value: Double, ts_us: Long)
  case class AttrState(ts_us: Long, ty: String)
  case class AttrOut(touch_type: String, value: Double, gap_us: Option[Long])

  /** s20: last-touch attribution AT INGESTION — q41's rule running on
    * the event firehose: per user, the last click/view carries as ONE
    * (ts, type) struct of state (bounded by user count, never by
    * stream volume), and each purchase is credited on arrival. Each
    * batch slice of a user is walked in (ts, event_id) order, so a
    * single AvailableNow pass equals the batch q41 exactly (shared
    * oracle), and any per-user time-ordered arrival — the shape a
    * partitioned log delivers — reproduces it at every batch size
    * (spec-pinned on a two-batch split). The census aggregation runs
    * at READ time over the emitted attribution rows (the s19 shape):
    * inside the stream it would re-aggregate everything every trigger.
    */
  def s20StreamAttribution(spark: SparkSession, dir: String): DataFrame =
    runAttribution(eventsStream(streamSession(spark), dir))

  private[graft] def runAttribution(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourUs = 3600000000L
    val per = events
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)").as("ts_us")).as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[AttrState]) =>
          var lt = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[AttrOut]()
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              val attr = lt.filter(t => e.ts_us - t.ts_us <= HourUs)
              out += AttrOut(attr.map(_.ty).getOrElse("none"), e.value,
                attr.map(t => e.ts_us - t.ts_us))
            }
            if (e.event_type == "click" || e.event_type == "view")
              lt = Some(AttrState(e.ts_us, e.event_type))
          }
          lt.foreach(state.update)
          out.iterator
      }
    val (s, name) = runToCompletion(per.toDF(), OutputMode.Append())
    s.table(name).groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"), sum(col("value")).as("sum_value"),
        sum(col("gap_us")).as("sum_gap_us"))
  }

  case class FunnelEvent(user_id: Long, event_id: Long, event_type: String, ts_us: Long)
  case class FunnelState(tView: Option[Long], tClick: Option[Long], tPurchase: Option[Long])
  case class StageOut(user_id: Long, stage: String, ts_us: Long)

  /** s21: the q33 conversion funnel AT INGESTION — per-user funnel
    * progress (first view → first later click → first later purchase)
    * tracked live instead of recomputed nightly: state is ONE
    * three-slot struct per user (bounded by user count), each batch
    * slice walks in (ts, event_id) order, and a stage row emits AT
    * MOST ONCE per user per stage — the append stream carries only
    * stage transitions, never raw traffic. The funnel census (counts +
    * exact-µs mean gaps) aggregates at read time over ≤ 3·|users|
    * stage rows (the s19/s20 read-time shape). A single AvailableNow
    * pass equals batch q33 exactly (shared oracle); per-user
    * time-ordered arrival reproduces it at any batch size because each
    * stage's first-qualifying event is decided by a predicate on
    * already-carried state, never by later data.
    */
  def s21StreamFunnel(spark: SparkSession, dir: String): DataFrame =
    runStreamFunnel(eventsStream(streamSession(spark), dir))

  private[graft] def runStreamFunnel(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val stages = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us")).as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = scala.collection.mutable.ArrayBuffer[StageOut]()
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.tView.isEmpty =>
                st = st.copy(tView = Some(e.ts_us))
                out += StageOut(uid, "view", e.ts_us)
              case "click" if st.tClick.isEmpty &&
                  st.tView.exists(e.ts_us > _) =>
                st = st.copy(tClick = Some(e.ts_us))
                out += StageOut(uid, "click", e.ts_us)
              case "purchase" if st.tPurchase.isEmpty &&
                  st.tClick.exists(e.ts_us > _) =>
                st = st.copy(tPurchase = Some(e.ts_us))
                out += StageOut(uid, "purchase", e.ts_us)
              case _ =>
            }
          }
          state.update(st)
          out.iterator
      }
    val (s, name) = runToCompletion(stages.toDF(), OutputMode.Append())
    s.table(name)
      .groupBy("user_id")
      .agg(min(when(col("stage") === "view", col("ts_us"))).as("t_view"),
        min(when(col("stage") === "click", col("ts_us"))).as("t_click"),
        min(when(col("stage") === "purchase", col("ts_us"))).as("t_purchase"))
      .where(col("t_view").isNotNull)
      .agg(
        count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click_after_view"),
        count(col("t_purchase")).as("n_purchase_after_click"),
        avg(col("t_click") - col("t_view")).as("avg_view_to_click_us"),
        avg(col("t_purchase") - col("t_click")).as("avg_click_to_purchase_us"))
  }

  /** s22: streaming SCD-2 enrichment — q42's as-of dimension join at
    * ingestion (the production split the s17/s13 operators model: the
    * versioned dimension builds ONCE batch-side from the historical
    * range, broadcasts into every micro-batch, and each arriving fact
    * picks its validity version with the residual predicate —
    * stateless stream-static join, zero streaming state from the join
    * itself). The per-(type, version) rollup runs complete-mode inside
    * the stream: the aggregate frame is bounded by types × versions
    * (15 rows), never by traffic. One AvailableNow pass equals the
    * batch q42 exactly (shared oracle); the rollup is additive, so any
    * batch split reproduces it (spec-pinned).
    */
  def s22StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val dimSource = graft.Tables.events(ss, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("ts_us"))
    runStreamScd2(eventsStream(ss, dir), graft.queries.Events.scd2Dim(dimSource))
  }

  private[graft] def runStreamScd2(events: DataFrame, dim: DataFrame): DataFrame = {
    val agg = events
      .select(col("event_type"), expr("unix_micros(ts)").as("ts_us"),
        expr("cast(round(value * 1000) as bigint)").as("vmil"))
      .join(broadcast(dim), Seq("event_type"))
      .where(col("ts_us") >= col("valid_from") && col("ts_us") < col("valid_to"))
      .groupBy(col("event_type"), col("k").as("version"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("vmil") * col("mult")).as("sum_vmil"))
    val (s, name) = runToCompletion(agg, OutputMode.Complete())
    s.table(name)
  }

  /** s23: streaming equi-width histogram — q44's optimizer/monitoring
    * statistic maintained live over the ingest stream: bucket BOUNDS
    * come from one batch-side (min, max) aggregate and ride the stream
    * plan as two literal longs (bounds are config-sized — the
    * collect-into-the-plan move that was WRONG for s17's unbounded
    * dictionary is exactly right here); each arriving value buckets by
    * the same pure-integer cross-multiply, and the complete-mode
    * rollup frame is bounded at 20 rows regardless of traffic. One
    * AvailableNow pass equals batch q44 (shared oracle); counts are
    * additive so any batch split reproduces it.
    */
  def s23StreamHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val b = graft.Tables.lineitem(ss, dir)
      .select(expr("cast(round(l_extendedprice * 1000) as bigint)").as("vm"))
      .agg(min(col("vm")).as("lo"), max(col("vm")).as("hi")).head()
    // an empty table has null min/max: no bounds means no histogram —
    // return the 0-row frame with the query's schema rather than
    // streaming against NaN bucket math
    if (b.isNullAt(0)) {
      return ss.range(0)
        .select(col("id").as("bucket"), col("id").as("n_rows"),
          col("id").as("sum_vmil"))
    }
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val agg = fileStream(ss, dir, "lineitem.parquet")
      .select(expr("cast(round(l_extendedprice * 1000) as bigint)").as("vm"))
      .withColumn("bucket", expr(s"(vm - ${lo}L) * 20 div (${hi}L - ${lo}L + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("vm")).as("sum_vmil"))
    val (s, name) = runToCompletion(agg, OutputMode.Complete())
    s.table(name)
  }

  /** s24: contamination pressure AT INGESTION — d39's bench-side
    * report maintained live as the crawl streams in (the eval team
    * watches WHICH held-out docs are accumulating leakage without
    * waiting for the nightly batch): the benchmark gram set builds
    * batch-side and broadcasts into every micro-batch (the s09
    * stream-static shape); the stateful stage aggregates per
    * (bench_id, crawl_id) HIT PAIR — streaming aggregation cannot do
    * exact DISTINCT counts, and it doesn't need to: the pair frame IS
    * the distinct set, its state bounded by the contamination volume
    * the report exists to surface, not by traffic — and the read-time
    * rollup folds pairs to d39's exact census. One AvailableNow pass
    * equals the batch report (shared oracle).
    */
  def s24StreamPressure(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val bench = graft.text.Corpus.fiveGrams(
        graft.Tables.documents(ss, dir).where(graft.text.Corpus.isBenchCol))
      .select(col("doc_id").as("bench_id"), col("gram"))
    val crawlGrams = graft.text.Corpus.fiveGrams(
        fileStream(ss, dir, "documents.parquet")
          .where(!graft.text.Corpus.isBenchCol))
      .select(col("doc_id").as("crawl_id"), col("gram"))
    val pairCounts = crawlGrams
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("bench_id"), col("crawl_id"))
      .agg(count(lit(1)).as("n"))
    val (s, name) = runToCompletion(pairCounts, OutputMode.Complete())
    s.table(name)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_crawl_docs"), sum(col("n")).as("n_gram_hits"))
  }

  /** s12: streaming atomic publish — the w06 landing zone upgraded to
    * the w08 manifest contract: each micro-batch lands its data files,
    * then ONE manifest rename commits (previous files + the batch's).
    * A reader mid-stream resolves the highest committed manifest and
    * only ever sees whole batches — never a torn micro-batch write —
    * and every committed manifest stays readable as a time-travel
    * snapshot (w10). foreachBatch is at-least-once; the
    * manifest-exists guard in [[graft.sources.Sinks.publishBatch]]
    * makes a replayed batch a no-op, so the publish is exactly-once
    * without the file-sink's `_spark_metadata` coupling — this is how
    * a stream lands in a manifest table at 100 TB.
    */
  def s12StreamPublish(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val (root, ckpt) = publishPaths(ss, dir)
    runStreamPublishFrom(ss, fileStream(ss, dir, "documents.parquet"), root, ckpt)
    // an empty source runs ZERO micro-batches, so nothing ever commits:
    // a never-published table reads as the empty corpus, not an error
    // (the w01 lesson, one level up)
    val hasManifest = {
      import org.apache.hadoop.fs.{Path => HPath}
      val p = new HPath(root)
      val fs = p.getFileSystem(ss.sessionState.newHadoopConf())
      fs.exists(p) && fs.globStatus(new HPath(s"$root/manifest-*")).nonEmpty
    }
    val table =
      if (hasManifest) graft.sources.Sinks.readPublished(ss, dir, root)
      else ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.Tables.documents(ss, dir).schema)
    table.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  private[graft] def publishPaths(spark: SparkSession, dir: String): (String, String) = {
    val key = s"${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(spark.sparkContext.applicationId.hashCode)
    (s"/tmp/graft_stream_publish_$key", s"/tmp/graft_stream_publish_ckpt_$key")
  }

  /** s14: streaming CDC apply — w17's row-level MERGE fed by a
    * stream, the Delta/Iceberg "streaming upsert" shape: the base
    * table loads once (manifest-1, the stats layout), then every
    * micro-batch applies ITS changeset — deletes re-landing as
    * inserts, in-place updates — as one copy-on-write manifest
    * commit ([[graft.sources.Sinks.applyMergeBatch]]). Zone maps
    * confine each batch's rewrite to the files its key span touches;
    * the manifest-per-batch guard turns foreachBatch's at-least-once
    * into exactly-once; and because every key is merged by exactly
    * one batch, the final table equals w17's one-shot merge no
    * matter how the firehose was batched (shared oracle; the
    * multi-batch spec pins boundary invariance and that replaying
    * the stream adds nothing). This is how CDC lands in a 100 TB
    * manifest table: catch-up cost ∝ changed keys, never table size.
    */
  def s14StreamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val (root, ckpt) = cdcApplyPaths(ss, dir)
    val docs = graft.Tables.documents(ss, dir)
    val schema = docs.schema
    locally {
      import org.apache.hadoop.fs.{Path => HPath}
      val fs = new HPath(root).getFileSystem(ss.sessionState.newHadoopConf())
      if (!fs.exists(new HPath(root, "manifest-1")))
        graft.sources.Sinks.publishWithStats(ss, docs, root)
    }
    graft.sources.Sinks.idRangeThreshold(docs).foreach { thr =>
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      runCdcApplyFrom(ss, fileStream(ss, dir, "documents.parquet"),
        root, ckpt, thr, mx)
    }
    graft.sources.Sinks.readStatsPublished(ss, schema, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        count(when(col("source").isin("cdc_upd", "cdc_ins"), 1)).as("n_cdc"))
  }

  private[graft] def cdcApplyPaths(spark: SparkSession, dir: String): (String, String) = {
    val key = s"${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(spark.sparkContext.applicationId.hashCode)
    (s"/tmp/graft_stream_cdc_$key", s"/tmp/graft_stream_cdc_ckpt_$key")
  }

  /** The per-batch MERGE loop from any (streaming) documents frame —
    * exposed for multi-batch / replay specs.
    */
  private[graft] def runCdcApplyFrom(
      ss: SparkSession, docs: DataFrame, root: String, ckpt: String,
      thr: Long, mx: Long): Unit = {
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Sinks.applyMergeBatch(ss, batch, root, id, thr, mx)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** The manifest-publish sink from any (streaming) documents frame —
    * exposed for multi-batch specs.
    */
  private[graft] def runStreamPublishFrom(
      ss: SparkSession, docs: DataFrame, root: String, ckpt: String): Unit = {
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Sinks.publishBatch(ss, batch, root, id)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** s10: streaming ANN serving — the retrieval tier of the e-family
    * run on a QUERY STREAM: incoming vectors are signed (stateless
    * hyperplane-signature projection), exploded to their hamming-≤2
    * probe set, and stream-static joined on bucket id against the
    * PERSISTED index (e06's nightly build) — candidate scoring is
    * stateless append-mode work with zero streaming state. The
    * per-query top-k rank runs as a batch over the landed candidates:
    * streaming cannot rank, and a serving tier ranks at read time
    * anyway. Results are identical to e02/e06 row-for-row (shared
    * oracle). At scale the static side is the bucket-partitioned index
    * table probed per micro-batch; the stream side is the tiny one.
    */
  def s10StreamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runAnnServe(dir, fileStream(ss, dir, "embeddings.parquet"))
  }

  /** ANN serving over any (streaming) embeddings frame — exposed for
    * multi-batch specs.
    */
  private[graft] def runAnnServe(dir: String, embStream: DataFrame): DataFrame = {
    import graft.sim.Sim
    val ss = embStream.sparkSession
    val idx = Sim.annIndex(ss, dir)
    val queries = embStream
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Sim.dotOf(ss, "v", "v")))
      .where(col("nrm") > 0.0 && col("vec_id") < 20)
      .withColumn("bucket", Sim.bucketColOf(Sim.SigBits, Some(ss)))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr(Sim.probeExprOf(Sim.SigBits))).as("bucket"))
    val scored = queries.join(idx, Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Sim.dotOf(ss, "qv", "v") / (col("qn") * col("nrm"))).as("cosine"))
    val (sess, name) = runToCompletion(scored, OutputMode.Append())
    // read-time rank over the landed candidates (multi-probe repeats
    // collapse here too — dedup state never lives on the stream)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    sess.table(name)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** s03: streaming exact dedup — the stream unioned with itself (every
    * event arrives twice) is deduplicated on event_id with watermarked
    * state, then aggregated. The final counts must equal the batch
    * aggregation of the original (un-duplicated) events — the oracle.
    * At scale the watermark bounds dedup state to the lateness horizon.
    */
  def s03StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val s = eventsStream(ss, dir)
    val deduped = s.union(eventsStream(ss, dir))
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val (sess, name) = runToCompletion(deduped, OutputMode.Complete())
    sess.table(name)
  }

  /** s04: stream-stream interval join — each error event joined to the
    * same user's click events in the preceding 5 minutes. Watermarks on
    * both sides + the time-range predicate bound the join state (the
    * canonical Structured Streaming two-stream pattern). The joined
    * pairs land append-mode in the memory sink; the per-user rollup on
    * the sink table is batch, so the streaming query stays a single
    * stateful operator. Oracle: the identical batch interval join.
    */
  def s04StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val clicks = eventsStream(ss, dir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = eventsStream(ss, dir)
      .where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
        col("c_ts") < col("e_ts"))
      .select(col("e_user").as("user_id"), col("error_id"), col("click_id"))
    val (sess, name) = runToCompletion(joined, OutputMode.Append())
    sess.table(name)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("error_id")).as("n_errors"))
  }

  /** s16: stream-stream LEFT OUTER interval join — s04's join with the
    * semantics production alerting actually needs: an error with NO
    * click in its preceding 5 minutes must still be reported. Outer
    * stream-stream joins are the hard watermark case: a null-padded
    * row can only be emitted once the watermark proves no matching
    * click can still arrive, so unmatched errors sit in state until
    * their join window expires and are released by the no-data batch
    * that AvailableNow runs after the sources drain. The one honest
    * divergence from the batch join: an unmatched error INSIDE the
    * final watermark horizon (e_ts > min(max click, max error) − 1 h)
    * is undecidable at end-of-input — a matching click could still
    * arrive — and stays in state unemitted. The oracle encodes
    * exactly that horizon in integer milliseconds; matched pairs are
    * never withheld. Same bounded state as s04: the watermark +
    * time-range predicate limit both sides' buffers.
    */
  def s16StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val clicks = eventsStream(ss, dir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = eventsStream(ss, dir)
      .where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
        col("c_ts") < col("e_ts"),
      "left_outer")
      .select(col("e_user").as("user_id"), col("error_id"), col("click_id"))
    val (sess, name) = runToCompletion(joined, OutputMode.Append())
    sess.table(name)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("click_id")).as("n_matched"),
        count_if(col("click_id").isNull).as("n_unmatched"),
        countDistinct(col("error_id")).as("n_errors"))
  }

  /** s06: STREAMING sessionization via the NATIVE session_window
    * operator — the built-in merging-session-window aggregate running
    * in a stream (vs s02's hand-rolled flatMapGroupsWithState and q26's
    * batch form, all three gap-session semantics). The watermark bounds
    * session state: sessions whose close precedes the watermark are
    * finalized and evicted. Session-window streams support append and
    * complete output only (no update); complete keeps the local
    * memory-sink result total — append would hold back every session
    * the final watermark hasn't passed — so the oracle is q26's.
    */
  def s06StreamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(streamSession(spark), dir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val (sess, name) = runToCompletion(agg, OutputMode.Complete())
    sess.table(name)
  }

  /** Arrival-ordered staging for s15, replayed as THREE micro-batches
    * (mtime order; the file source batches files by modification time):
    * the bulk of the on-time cohort (user_id % 5 != 0) INCLUDING the
    * timeline tail, then a mid-timeline on-time slice (Jan 5–8 of the
    * generator's fixed Jan-2024 span), then the straggler cohort.
    * Three batches, not two, because Spark's default two-watermark
    * scheme (`statefulOperator.allowMultiple`, SPARK-40925) filters a
    * batch's LATE rows against the watermark in effect during the
    * PREVIOUS batch: the stragglers in batch 2 are filtered by batch
    * 1's watermark, which already advanced to max(on-time) − delay
    * because batch 0 carried the timeline tail. (A two-file replay
    * would filter the stragglers against the initial 0 watermark and
    * drop nothing.) Keyed by (dir, appId) like the ANN index staging
    * so concurrent sessions never clobber each other; committed via a
    * `_STAGED` marker through the Hadoop FileSystem API so a failed
    * half-write never serves.
    */
  private[graft] def lateArrivalStage(spark: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = spark.conf.get("spark.graft.stream.stagingDir", "/tmp")
    val stage = s"$root/graft_stream_late_${Integer.toHexString(dir.hashCode)}_" +
      Integer.toHexString(spark.sparkContext.applicationId.hashCode)
    val p = new HPath(stage)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new HPath(p, "_STAGED")
    if (!fs.exists(marker)) {
      val ev = graft.Tables.events(spark, dir)
      val onTime = ev.where(col("user_id") % 5 =!= 0)
      val midWave = col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-08")
      onTime.where(!midWave).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/p1")
      onTime.where(midWave).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/p2")
      ev.where(col("user_id") % 5 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/p3")
      val now = System.currentTimeMillis()
      Seq("p1" -> (now - 120000), "p2" -> (now - 60000), "p3" -> now)
        .foreach { case (sub, t) =>
          fs.listStatus(new HPath(p, sub))
            .filterNot(st => st.getPath.getName.startsWith("_"))
            .foreach(st => fs.setTimes(st.getPath, t, -1))
        }
      fs.create(marker, true).close()
    }
    stage
  }

  /** s15: late-data accounting under a watermark — the streaming
    * correctness knob every production pipeline has to set: how long
    * to wait for stragglers before a window closes. The staged replay
    * arrives as three micro-batches (see [[lateArrivalStage]]) with
    * the stragglers last, by which point the late-record watermark
    * has advanced to max(on-time ts) − 24 h: a straggler whose hour
    * window closed before that is DROPPED by the aggregation (the
    * same bound that keeps state finite at scale is what drops it);
    * a straggler whose window is still open folds in normally, on top
    * of the intact cumulative count. Update mode emits a window's
    * running count in every batch that touches it; the batch rollup
    * over the sink keeps the final emission per window (= max —
    * counts are monotone). The oracle reproduces the watermark
    * arithmetic in exact integer milliseconds: wm_ms =
    * epoch_ms(max on-time ts) − 24 h, a straggler survives iff its
    * window end > wm_ms.
    */
  def s15StreamLateData(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val stage = lateArrivalStage(ss, dir)
    val schema = ss.read.parquet(s"$stage/p1").schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/p*")
    val agg = stream.withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
    val (sess, name) = runToCompletion(agg, OutputMode.Update())
    sess.table(name).groupBy("bucket", "event_type").agg(max("n").as("n"))
  }

  // public: encoder-generated code must be able to reach these
  case class BandRow(doc_id: Long, band_id: Int, band_sig: Long)
  case class BucketState(docIds: Array[Long], overflowed: Boolean)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** s05: STREAMING near-duplicate detection — online MinHash LSH at
    * ingestion time. The signature/band projection is the exact batch
    * pipeline (Dedup.withSignature / bandRows — stateless, codegen'd);
    * the stateful half keys by (band_id, band_sig) bucket and keeps the
    * doc ids seen in that bucket as state, emitting candidate pairs the
    * moment a new document collides with a stored one.
    *
    * The stateful shuffle moves ONLY (doc_id, band_id, band_sig) — the
    * same 24-byte band rows as batch `lshCandidates` — and bucket state
    * holds bare doc ids (8 bytes/doc), never signatures: a document's
    * 64-long signature is NOT duplicated across its 16 band buckets.
    * The est-Jaccard verification joins signatures back for the
    * (few) emitted candidate pairs from the doc_id-keyed signature
    * table, exactly like the batch path — at scale that table is the
    * signature store the ingestion pipeline already persists.
    *
    * State is bounded by the same `MaxBucket` stop-bucket cap as batch:
    * a bucket that overflows is poisoned (emits nothing, stores only a
    * flag), so boilerplate floods cannot grow state or output — the cap
    * IS the watermark here, since near-dup buckets have no event time.
    * The per-group iterator is drained without materializing past the
    * cap, so memory per bucket is MaxBucket × 8 bytes, always.
    *
    * On the single AvailableNow batch the emitted pair set equals the
    * batch census exactly, so the oracle is d06's; under continuous
    * ingestion the cap applies at arrival order — the only semantic a
    * streaming dedup can offer.
    */
  def s05StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    import graft.dedup.Dedup
    val corpus = Dedup.nearDupCorpus(fileStream(ss, dir, "documents.parquet"))
    val sigs = Dedup.withSignature(Dedup.shingled(corpus)).select("doc_id", "sig")
    val bands = Dedup.bandRows(sigs).as[BandRow]

    val pairs = bands
      .groupByKey(r => (r.band_id, r.band_sig))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Array.empty, overflowed = false))
          // collect at most cap+1 ids; never materialize a flood
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          var over = st.overflowed
          while (it.hasNext) {
            val r = it.next()
            if (!over) {
              buf += r.doc_id
              if (st.docIds.length + buf.length > Dedup.MaxBucket) over = true
            }
          }
          if (over) {
            state.update(BucketState(Array.empty, overflowed = true))
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
            var i = 0
            while (i < buf.length) {
              val d = buf(i)
              var j = 0
              while (j < st.docIds.length) {
                out += CandPair(math.min(st.docIds(j), d), math.max(st.docIds(j), d))
                j += 1
              }
              j = 0
              while (j < i) {
                out += CandPair(math.min(buf(j), d), math.max(buf(j), d))
                j += 1
              }
              i += 1
            }
            state.update(BucketState(st.docIds ++ buf, overflowed = false))
            out.iterator
          }
      }
    val (sess, name) = runToCompletion(pairs.toDF(), OutputMode.Update())
    // Signature join-back OUTSIDE the stateful operator (batch over the
    // sink locally; against the signature store in production). The
    // signature projection is deterministic, so the batch recompute is
    // bit-identical to what the stream hashed.
    val sigFull = Dedup.signatureTable(
      Dedup.nearDupCorpus(graft.Tables.documents(sess, dir)))
    val sigTable = sigFull.select("doc_id", "sig")
    val joined = sess.table(name)
      .dropDuplicates("doc_a", "doc_b")
      .join(sigTable.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigTable.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard", expr(Dedup.estJaccardExpr(sess)))
      .where(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
    // the persisted signature table is read twice above (persist stops
    // Catalyst re-inlining the signature expression into both join
    // branches); materialize the small survivor set eagerly so the
    // cache can be released NOW instead of leaking for the session's
    // lifetime (localCheckpoint blocks are context-cleaned on GC,
    // cacheManager entries are not)
    val out = joined.cutLineage
    sigFull.unpersist()
    out
  }

  case class Ev(user_id: Long, event_id: Long, tsUs: Long)
  case class SessionState(sessions: Long, startUs: Long, endUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** s02: per-user sessionization with `flatMapGroupsWithState` — gap
    * > 30 min closes a session. State carries the open session across
    * micro-batches; every batch emits the sessions it completed plus the
    * currently-open one (update mode), so after the final batch the sink
    * holds exactly the gap-sessionization of the whole stream — the same
    * result as the batch lag+cumsum query (q17), which is the oracle.
    */
  def s02StreamStateful(spark: SparkSession, dir: String): DataFrame =
    runSessionize(eventsStream(streamSession(spark), dir))

  /** Wire a (streaming) events frame through the stateful sessionizer,
    * run to completion, and collapse re-emitted open sessions to their
    * final state. Exposed so specs can drive it with a multi-file /
    * multi-batch source.
    */
  private[graft] def runSessionize(eventsDf: DataFrame): DataFrame = {
    val spark = eventsDf.sparkSession
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000

    val events = eventsDf
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsUs")).as[Ev]

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[SessionState]) =>
          val evs = it.toArray.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          def emit(s: SessionState): SessionOut =
            SessionOut(uid, s.sessions, s.n, s.startUs, s.endUs)
          for (e <- evs) {
            if (st.n == 0L) {
              st = SessionState(st.sessions + 1, e.tsUs, e.tsUs, 1L)
            } else if (e.tsUs - st.endUs > gapUs) {
              out += emit(st) // close previous session
              st = SessionState(st.sessions + 1, e.tsUs, e.tsUs, 1L)
            } else {
              st = st.copy(endUs = e.tsUs, n = st.n + 1)
            }
          }
          if (st.n > 0) out += emit(st) // open session: re-emitted (updated) next batch
          state.update(st)
          out.iterator
      }
    val (s, name) = runToCompletion(sessions.toDF(), OutputMode.Update())
    s.table(name)
      .groupBy("user_id", "session_id") // collapse re-emissions of open sessions across batches: keep final
      .agg(max("n_events").as("n_events"), min("start_us").as("start_us"),
        max("end_us").as("end_us"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"))
  }
}
