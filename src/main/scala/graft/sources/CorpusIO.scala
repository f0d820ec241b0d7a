package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus ingestion and curated-output I/O for the LLM-pipeline block
  * (SURVEY §2.10) — the boundary operators a 100 TB text pipeline needs
  * around the documents table: crawl dumps arrive as JSONL, curated
  * corpora leave as partitioned parquet with a manifest.
  *
  * The driver's correctness gate only sees parquet fixtures, so this
  * module is spec-verified (CorpusIOSpec): JSONL fixtures are written
  * to a temp dir and read back; the sink round-trips the documents
  * fixture and its manifest is recomputed independently.
  */
object CorpusIO {

  /** The documents-table schema plus the corrupt-record capture column.
    * DECLARED, not inferred: schema inference is a second full read of
    * the input — at crawl scale the inference pass alone costs more
    * than the ingest job, and a drifting input would silently change
    * downstream types instead of landing in quarantine.
    */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Read a JSONL corpus dump with an explicit schema and PERMISSIVE
    * corrupt-record capture: malformed lines land whole in `_corrupt`
    * (all data columns null) instead of failing the job or being
    * silently dropped — at crawl scale some malformed records are a
    * certainty, and a pipeline must quarantine them with evidence, not
    * die at 80 % of a 100 TB pass (FAILFAST) or lose them without a
    * trace (DROPMALFORMED).
    *
    * Returns the full frame; [[cleanDocs]] / [[quarantine]] split it.
    * Scale shape: JSONL is splittable line-wise, so the scan
    * parallelizes like any text source; the declared schema prunes
    * parsing to the five needed fields.
    */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(DocSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** The data fields a document row must carry to be CLEAN — every
    * declared column. One list feeding both [[cleanDocs]] and
    * [[quarantine]] so the two filters always partition the input.
    */
  private val RequiredFields: Seq[String] =
    DocSchema.fieldNames.toSeq.filterNot(_ == "_corrupt")

  /** The three quarantine evidence classes, as the ONE spelling shared
    * by [[cleanDocs]], [[quarantine]] and [[streamCurated]]'s observe
    * counters — a change to the split rule that missed the telemetry
    * would silently misattribute drops (an uncounted drop class lands
    * in the derived dup-dropped column, corrupting exactly the signal
    * the dashboard alerts on). All three expressions are null-free
    * booleans (isNull/isNotNull never return NULL; `doc_id < 0` can
    * only be NULL when doc_id is null, and then `!isIncomplete` is
    * already false — `false AND NULL` is false).
    */
  private def isMalformed: org.apache.spark.sql.Column =
    col("_corrupt").isNotNull
  private def isIncomplete: org.apache.spark.sql.Column =
    col("_corrupt").isNull &&
      RequiredFields.map(col(_).isNull).reduce(_ || _)

  /** A parsed, field-complete row whose doc_id breaks the pipe's
    * non-negative contract. Shared by BOTH paths: the streaming gates'
    * whole identity scheme rides on `ord = doc_id ≥ 0` (minted
    * quarantine ords are the negatives), and the batch split must
    * partition the input the SAME way or the pinned stream ≡ batch
    * kept-set equivalence (the x103 oracle technique) silently fails
    * on any corpus containing a negative id.
    */
  private def isInvalidId: org.apache.spark.sql.Column =
    !isMalformed && !isIncomplete && col("doc_id") < 0L

  /** Well-formed rows of a [[readJsonl]] frame: every declared field
    * PRESENT (not just parseable — a syntactically valid line missing
    * its key, its text, or any other declared field is quarantine
    * material) AND a non-negative doc_id (the pipe contract
    * [[isInvalidId]] documents). The all-fields rule is load-bearing
    * for the streaming pipe: [[streamCurated]] deserializes into the
    * typed [[CuratedDoc]] and keys dedup state on the text, so a
    * single admitted null would crash the batch, and a streaming
    * checkpoint REPLAYS the poison line on every restart — a
    * permanently wedged ingest, the exact failure mode this module
    * exists to prevent.
    */
  def cleanDocs(raw: DataFrame): DataFrame =
    raw.filter(!isMalformed && !isIncomplete && !isInvalidId)
      .drop("_corrupt")

  /** Quarantined rows, each carrying its drop class and evidence:
    * `reason` is `malformed` (unparseable line), `incomplete` (parsed
    * but missing a declared field) or `invalid` (parsed and complete
    * but a negative doc_id — the pipe-contract breach), `raw_line` is
    * the whole captured line for malformed rows and the JSON of the
    * fields that DID parse for the other two — previously the
    * incomplete class quarantined as an all-null row, which named the
    * class but discarded the doc_id/source/lang that were present and
    * made triage ("which record lost a field?") impossible. `to_json`
    * omits null fields, so the fallback is exactly the present
    * evidence, at zero extra passes (it rides the same projection).
    * The classes come from the SAME shared predicates the telemetry
    * counts, so the split can never drift from [[streamCurated]]'s
    * observe counters.
    */
  def quarantine(raw: DataFrame): DataFrame =
    raw.filter(isMalformed || isIncomplete || isInvalidId)
      .select(
        when(isMalformed, lit("malformed"))
          .when(isIncomplete, lit("incomplete"))
          .otherwise(lit("invalid")).as("reason"),
        coalesce(col("_corrupt"),
          to_json(struct(RequiredFields.map(col): _*))).as("raw_line"))

  /** Write a curated corpus as hive-partitioned parquet
    * `lang=<l>/part=<p>/` with a recomputed manifest at
    * `<path>/_manifest`. Returns the manifest frame.
    *
    * Layout discipline for 100 TB:
    *  - `part = doc_id % buckets` bounds partition count to
    *    |langs|·buckets regardless of corpus size, and the explicit
    *    `repartition(lang, part)` puts each output partition in ONE
    *    task — one file per partition, not one file per (task ×
    *    partition) — the classic small-files explosion
    *    `partitionBy` alone produces. File size inside a partition is
    *    then governed by `spark.sql.files.maxRecordsPerFile` when a
    *    partition outgrows one file.
    *  - the manifest (per-partition doc count, token sum, doc_id
    *    range) is the reader's integrity check and the planner's
    *    statistics source; it is computed from the files just written
    *    (one scan of the curated output — NOT a re-execution of the
    *    source frame's lineage), and CorpusIOSpec proves it equals a
    *    recomputation from the source frame, closing the loop.
    *  - readers filtering on `lang`/`part` prune directories before
    *    any I/O (PartitionFilters — pinned in CorpusIOSpec).
    */
  def writeCurated(docs: DataFrame, path: String,
                   buckets: Int = 256,
                   zorderWithin: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val out = docs.withColumn("part", pmod(col("doc_id"), lit(buckets.toLong)))
    // zorderWithin: sort each (lang, part) output partition by the
    // (doc_id, n_chars) Morton key before writing, so the parquet
    // row-group/file min/max stats inside a partition bound BOTH
    // columns (the X35 skip audit quantifies the effect; LayoutSpec
    // proves it on physical files) — readers filtering on doc_id OR
    // n_chars then skip row groups after the lang/part directory
    // prune. Costs one extra 1-row extremes aggregation + an in-task
    // sort; the manifest and the row CONTENT are unchanged (the
    // manifest aggregation is order-independent), so flipping the
    // flag never changes what a reader computes — only what it reads.
    val shaped = {
      val parted =
        if (!zorderWithin) out.repartition(col("lang"), col("part"))
        // sort by (lang, part, zkey), not zkey alone: the partitioned
        // writer REQUIRES rows clustered by its partition columns and
        // would insert its own (lang, part)-only sort — Spark sorts
        // are not stable, so that writer-inserted sort would scramble
        // the Morton order inside each partition. With the partition
        // columns as the sort prefix the writer's requirement is
        // already satisfied and the zkey order survives to the files.
        else graft.operators.Layout.withZorderKey(out)
          .repartition(col("lang"), col("part"))
          .sortWithinPartitions(col("lang"), col("part"), col("zkey"))
          .drop("bin_d", "bin_c", "zkey")
      parted
    }
    shaped.write.partitionBy("lang", "part")
      .mode("overwrite").parquet(s"$path/data")
    // the manifest aggregates the FILES JUST WRITTEN, not the source
    // frame: re-aggregating `docs` would re-execute its whole upstream
    // lineage (a curation pipeline's dedup/filter/redact — a second
    // full pass at corpus scale) and would describe the lineage's
    // output, not what landed on disk; reading back costs one scan of
    // the (smaller) curated output and IS the integrity statement.
    // The schema is pinned from the written frame — inference would
    // throw on an all-rows-filtered (empty) corpus, which must yield
    // an empty manifest, not a crash after the data write
    writeManifest(docs.sparkSession.read.schema(out.schema)
      .parquet(s"$path/data"), path)
  }

  /** The ONE manifest aggregation (per-partition doc count, token sum,
    * doc_id range) — shared by [[writeCurated]], the per-generation
    * manifests [[fold]] writes, and the upgrade path in
    * [[writeMergedManifest]], so every manifest row in the system is
    * the same statement computed the same way.
    */
  private def manifestAgg(curated: DataFrame): DataFrame =
    curated.groupBy("lang", "part")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))

  /** The manifest row schema, declared once: the empty-corpus manifest
    * and the per-generation manifest reads must agree with what
    * [[manifestAgg]] produces, bit for bit.
    */
  private val ManifestSchema: StructType = StructType(Seq(
    StructField("lang", StringType),
    StructField("part", LongType),
    StructField("n_docs", LongType),
    StructField("n_tokens", LongType),
    StructField("min_doc_id", LongType),
    StructField("max_doc_id", LongType)))

  /** [[writeCurated]]'s manifest write: one aggregation of the frame
    * just written (∝ what the write produced — the batch writer always
    * rewrites the whole corpus, so this is not an O(corpus) residual
    * the way the compactor's old full-tree refresh was).
    */
  private def writeManifest(curated: DataFrame, path: String): DataFrame = {
    val manifest = manifestAgg(curated)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    manifest
  }

  /** A well-formed corpus document as it flows through the streaming
    * ingest pipe — the typed row [[streamCurated]]'s keyed dedup state
    * operates on.
    */
  case class CuratedDoc(doc_id: Long, text: String, lang: String,
                        source: String, n_chars: Long)

  /** Streaming JSONL corpus source — the rolling-crawl sibling of
    * [[readJsonl]]: same DECLARED schema and PERMISSIVE
    * corrupt-record capture, over `readStream`'s file source (new
    * files under `path` become micro-batches; `maxFilesPerTrigger`
    * bounds batch size so one huge dump drop doesn't become one huge
    * batch). [[cleanDocs]] / [[quarantine]] split the stream exactly
    * as they split the batch frame.
    */
  def readJsonlStream(spark: SparkSession, path: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** A row of the streaming pipe's internal sum type: a clean document
    * (`q_reason` null, data fields populated, `ord = doc_id`) or a
    * quarantine line (`q_reason`/`q_raw` populated, data fields
    * neutral, `ord` a per-batch-unique NEGATIVE — see
    * [[streamCurated]]). One typed row for both kinds is what lets the
    * quarantine sink ride the curated query's single input pass
    * instead of a second streaming query re-reading every file.
    */
  private[graft] case class PipeDoc(ord: Long, doc_id: Long, text: String,
                                    lang: String, source: String,
                                    n_chars: Long, q_reason: String,
                                    q_raw: String)

  /** Streaming corpus ingestion (SURVEY §2.10 X26, the documents-side
    * analogue of the S2 metric ingest path): a [[readJsonlStream]]
    * frame flows clean-split → exact first-occurrence dedup
    * ([[graft.operators.Dedup.streamingFirstOccurrenceBy]], keyed on
    * the text's md5 hex — a constant ~32-byte string per key, never
    * document text) → curated-layout append via `foreachBatch` (the
    * same `lang=<l>/part=<p>/` discipline as [[writeCurated]], one
    * task per output partition per batch). The checkpoint carries both
    * the file-source offsets and the dedup state, so a restart
    * resumes exactly (no re-admitted duplicates, no lost batches) —
    * the ack-after-durable contract the metric side proves in
    * StreamingSpec.
    *
    * Quarantine rows (malformed/field-incomplete/invalid-id lines —
    * the three shared [[quarantine]] classes, each with reason +
    * evidence) are written to
    * `<outPath>/quarantine/batch=<key>` from the SAME query: they ride
    * through the pipe as tagged [[PipeDoc]] rows that every gate
    * passes through untouched (empty text ⇒ no shingles ⇒ no LSH
    * state; the exact gate's `bypass` ⇒ no boolean state), then split
    * from the admitted docs inside `foreachBatch` — ONE scan of the
    * crawl input serves both sinks, where the retired
    * `streamQuarantine` query paid a second full pass forever.
    * Quarantine `ord`s are per-batch-unique negatives minted by a
    * per-partition counter, so they can never collide with a clean
    * doc's `ord = doc_id` (doc_ids are non-negative by the pipe's
    * contract) and never merge rows in the gates' per-ord reduce.
    *
    * Stream ≡ batch: when files arrive in doc_id order, the kept set
    * is exactly batch `cleanDocs` + min-doc_id-per-fingerprint of the
    * same files — the x87/q31 oracle technique, pinned by the x103
    * CORRECTNESS row. Scale shape: one keyed-state exchange per batch
    * + the partitioned append; no batch-over-batch joins.
    *
    * `minQuality = Some(m)` puts the batch curation's quality gate at
    * the door (stateless per-row filter, BEFORE dedup — the
    * curateWith order, so a cluster's canonical doc is chosen among
    * gate survivors on both sides), evaluating the SAME
    * `TextAnalysis.qualityScore` column as the batch gate.
    *
    * `nearDupTtlMicros = Some(h)` (requires `nearDup`) runs the
    * near-dup gate under horizon `h`
    * ([[graft.operators.Dedup.streamingNearDupGate]]'s
    * `horizonMicros`) — the state answer for an INFINITE crawl.
    * Quarantine rows cannot ride THROUGH a watermarked gate (their
    * minted negative ords would sit forever below any watermark and
    * Spark would drop them as late before the state op; stamping them
    * with processing time instead would drag the watermark around
    * non-deterministically under replay), so the TTL mode routes them AROUND it: the typed stream
    * splits after the ord minting, only the clean branch is
    * watermarked and gated, and the quarantine branch unions back
    * before the sink — one QUERY, one checkpoint/offset ledger, the
    * same batch-keyed two-sink idempotence. The parse runs ONCE
    * (round 14): a hash repartition above the split gives both union
    * branches a canonically identical exchange, which the planner's
    * exchange-reuse rule executes once (the round-13 layout planned
    * the source subtree twice — parse_factor measured 2.00×, now
    * 1.00× at the same stress; the price is one shuffle of the
    * batch's rows, bytes the gate's own keyed exchange was already
    * paying downstream). Observability moves with the split:
    * the TTL layout carries per-branch observe counters (no observe
    * may sit above the split — a union would duplicate the
    * CollectMetrics node and double-count), and
    * [[graft.streaming.CorpusIngestStats]] reads both layouts. The
    * TTL gate's contract applies: doc_ids are unique event-time µs
    * and files must arrive in doc_id order; a near-dup beyond the
    * horizon is ADMITTED again (re-admission is the semantic point),
    * and late arrivals vanish from the output but surface in
    * `nLateDroppedRows`.
    *
    * `auditGateRejects = true` (requires `nearDup`) upgrades the
    * admission gate to its reason-tagged variant and routes every
    * REJECTED doc into the quarantine sink as a
    * `(reason, {"doc_id":…,"of_ord":…})` line — reason `near_dup`
    * (with the smallest verified prior) or `hot_bucket` — so the
    * pipe never drops a document without a quarantine record (the
    * x97 batch-ledger discipline at pipe level; x163 oracle-pins the
    * audit rows through the full file pipe). With `minQuality` also
    * set, the quality door's drops are ledgered too — reason
    * `low_quality` (the batch ledger's spelling) with
    * `{"doc_id":…,"quality_score":…}` evidence, neutral-fielded like
    * every quarantine row so a dropped doc influences no dedup
    * decision (x164 oracle-pins the composed quality+near-dup audit).
    * Default off: the quarantine tree then stays parse-failures-only
    * and quality drops stay counter-only (`n_gate_pass`), today's
    * shape.
    *
    * `nearDupHotBucketCap = Some(n)` (requires `nearDup`) arms the
    * gate's heavy-hitter circuit breaker: a doc landing in a band
    * bucket already holding ≥ n live (horizon-live, under a horizon)
    * entries auto-rejects without probing the bucket, and the bucket
    * freezes — the boilerplate-storm bound a production crawl wants at
    * the pipe level (semantics and closed form on
    * [[graft.operators.Dedup.streamingNearDupVerdictsTagged]]; the x158
    * row oracle-pins them). Unset = uncapped, today's behavior.
    */
  def streamCurated(raw: DataFrame, outPath: String, checkpointDir: String,
                    buckets: Int = 256,
                    stats: Option[graft.streaming.CorpusIngestStats] = None,
                    nearDup: Option[Double] = None,
                    minQuality: Option[Double] = None,
                    nearDupTtlMicros: Option[Long] = None,
                    nearDupHotBucketCap: Option[Int] = None,
                    auditGateRejects: Boolean = false)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(nearDupTtlMicros.isEmpty || nearDup.isDefined,
      "nearDupTtlMicros needs nearDup (the verify threshold) set too")
    require(!auditGateRejects || nearDup.isDefined,
      "auditGateRejects needs nearDup — it routes the near-dup gate's " +
        "rejects into the quarantine sink with their reason")
    require(nearDupHotBucketCap.isEmpty || nearDup.isDefined,
      "nearDupHotBucketCap needs nearDup (it caps the near-dup gate's " +
        "band buckets — see Dedup.streamingNearDupVerdictsTagged)")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = raw.sparkSession
    import spark.implicits._
    // single-writer exclusion, the metric store's SinkLock discipline:
    // refuse a busy sink BEFORE the pre-start work (a live
    // compactCurated would rename this query's output tree out from
    // under it; a second writer would interleave batch dirs) —
    // exclusion itself comes from startGuarded below, which holds the
    // lock from BEFORE .start()
    val lock = sinkLock(outPath)
    lock.assertNotBusy(spark)
    // quarantine-format guard: a directory written by the retired
    // streamQuarantine file-sink (flat part files under a
    // _spark_metadata log; single-column `raw_line` in its oldest
    // form) must not be resumed into — parquet reads over a
    // mixed-layout directory sample one footer for the schema, so old
    // rows would either fail a `reason` projection or silently read it
    // as null. Fail fast with the archive-aside instruction instead of
    // leaving the hazard to a scaladoc migration note.
    val qmeta = new org.apache.hadoop.fs.Path(
      s"$outPath/quarantine/_spark_metadata")
    if (qmeta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(qmeta))
      throw new IllegalStateException(
        s"$outPath/quarantine was written by the retired streamQuarantine " +
          "file-sink layout (flat files + _spark_metadata); archive it " +
          "aside before resuming — this query writes batch-keyed " +
          "(reason, raw_line) parquet and mixed layouts misread old rows")
    // batch keys carry the checkpoint INCARNATION tag (the metric
    // store's discipline, same helper): an operator who wipes and
    // recreates the checkpoint path restarts batch ids at 0, and a
    // bare-id key would make the new incarnation's batch 0 overwrite
    // the old incarnation's committed batch-0 directory while leaving
    // its later batches as duplicates. The tag also lets
    // [[compactCurated]] distinguish the live incarnation's
    // uncommitted tail from foreign committed batches.
    // legacyCkpt: pre-tag checkpoint (bare-id batch keys in ITS OWN
    // history)? Only then may a replay touch a bare dir — under a
    // wiped/recreated checkpoint, bare dirs are a foreign
    // incarnation's committed data. One graft-id read serves tag,
    // frontier and legacy bit.
    val (ckptTag, committedMax0, legacyCkpt) = graft.streaming
      .StreamingIngest.checkpointIdentityFull(spark, checkpointDir)
    // idempotent registration BEFORE start (the StreamingIngest
    // discipline): reusing one collector across restarts — the
    // pattern bind() supports — must not double-register it, or every
    // batch's counters arrive twice; registering before start means
    // no early batch's progress event is missed, and bind(runId)
    // after start scopes the collector
    stats.foreach { st =>
      spark.streams.removeListener(st)
      spark.streams.addListener(st)
    }
    // observe counters ride the batch's own pass — no extra scan: the
    // input split counts (the SHARED isMalformed/isIncomplete
    // predicates — the same Columns cleanDocs/quarantine filter on)
    // before cleanDocs, the admitted count after the dedup gate
    // the third drop class, the SHARED [[isInvalidId]]: a parsed,
    // field-complete row whose doc_id violates the pipe's non-negative
    // contract. The gates' whole identity scheme rides on
    // ord = doc_id ≥ 0 (minted quarantine ords are the negatives); a
    // negative id admitted as "clean" would collide with a minted ord
    // — a shingle-less tie throws in the band bucket and wedges the
    // checkpoint on replay, a shingled one silently merges rows in the
    // per-ord reduce. Both paths quarantine the breach WITH evidence
    // (the batch split shares the predicate), so stream ≡ batch holds
    // on contract-breaking corpora too.
    // ONE pass, both sinks: instead of filtering quarantine rows out
    // (and re-reading the input in a second query to recover them),
    // tag every line into the PipeDoc sum type. Quarantine rows get
    // NEUTRAL data fields — the empty text is load-bearing: no
    // shingles ⇒ the near-dup gate passes them with zero state — and
    // carry reason + evidence computed from the ORIGINAL columns
    // (to_json before the nulling, same spelling as [[quarantine]]).
    val qCond = isMalformed || isIncomplete || isInvalidId
    def taggedOf(src: DataFrame): DataFrame = src.select(
      when(qCond, lit(-1L)).otherwise(col("doc_id")).as("ord"),
      when(qCond, lit(-1L)).otherwise(col("doc_id")).as("doc_id"),
      when(qCond, lit("")).otherwise(col("text")).as("text"),
      when(qCond, lit("")).otherwise(col("lang")).as("lang"),
      when(qCond, lit("")).otherwise(col("source")).as("source"),
      when(qCond, lit(0L)).otherwise(col("n_chars")).as("n_chars"),
      when(isMalformed, lit("malformed"))
        .when(isIncomplete, lit("incomplete"))
        .when(isInvalidId, lit("invalid")).as("q_reason"),
      when(qCond, coalesce(col("_corrupt"),
        to_json(struct(RequiredFields.map(col): _*)))).as("q_raw"))
    // quarantine ords: per-batch-unique negatives from a per-partition
    // counter (the mapPartitions exists ONLY to hold that counter — a
    // row-local expression cannot). Uniqueness is what the gates'
    // per-ord reduce keys on; negativity is what keeps them disjoint
    // from clean ords (= non-negative doc_ids). Values vary across a
    // batch replay, which is safe: bypass rows never touch state and
    // the ord is dropped before either sink.
    def mintOrds(ds0: org.apache.spark.sql.Dataset[PipeDoc])
      : org.apache.spark.sql.Dataset[PipeDoc] = ds0.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var c = 0L
      it.map { d =>
        if (d.q_reason == null) d
        else { c += 1; d.copy(ord = -((pid << 33) | c)) }
      }
    }
    // audited gate: a REJECTED doc becomes a quarantine-tagged
    // PipeDoc — reason `near_dup` (evidence carries the smallest
    // verified prior) or `hot_bucket` — and rides the EXISTING
    // two-sink split, so the pipe never drops a document without a
    // quarantine line (the x97 batch-ledger discipline at pipe
    // level). Data fields go neutral like every quarantine row; the
    // evidence names what an operator acts on (the doc id and its
    // duplicate-of), not the text, which lives on the admitted
    // duplicate-of anyway.
    // audited quality gate: a door drop becomes a quarantine-tagged
    // row — reason `low_quality`, the batch ledger's spelling (x97)
    // — with {"doc_id","quality_score"} evidence, instead of
    // vanishing behind the n_gate_pass counter. Same neutral-fields
    // discipline as taggedOf: the emptied text means the dropped doc
    // influences NO downstream dedup decision (gate-before-dedup,
    // the curateWith order, exactly like the filtering gate).
    def qualityAudited(df: DataFrame, m: Double): DataFrame = {
      val score = graft.operators.TextAnalysis.qualityScore(col("text"))
      val fail = col("q_reason").isNull && score < m
      df.select(
        col("ord"), col("doc_id"),
        when(fail, lit("")).otherwise(col("text")).as("text"),
        when(fail, lit("")).otherwise(col("lang")).as("lang"),
        when(fail, lit("")).otherwise(col("source")).as("source"),
        when(fail, lit(0L)).otherwise(col("n_chars")).as("n_chars"),
        when(fail, lit("low_quality")).otherwise(col("q_reason"))
          .as("q_reason"),
        when(fail, to_json(struct(col("doc_id"),
          score.as("quality_score")))).otherwise(col("q_raw")).as("q_raw"))
    }
    def rejectToQuarantine(
        v: (Long, String, Option[Long], PipeDoc)): PipeDoc =
      if (v._2 == graft.operators.Dedup.ReasonAdmitted) v._4
      else v._4.copy(text = "", lang = "", source = "", n_chars = 0L,
        q_reason = v._2,
        q_raw = s"""{"doc_id":${v._4.doc_id}""" +
          v._3.fold("")(e => s""","of_ord":$e""") + "}")
    // the near-dup admission gate of both layouts: the reason-tagged
    // view when rejects are audited, the filtered view otherwise
    def nearDupGated(ds: org.apache.spark.sql.Dataset[PipeDoc], t: Double)
      : org.apache.spark.sql.Dataset[PipeDoc] = {
      val cap = nearDupHotBucketCap.getOrElse(Int.MaxValue)
      if (auditGateRejects)
        graft.operators.Dedup.streamingNearDupVerdictsTagged(ds, t,
          hotBucketCap = cap, horizonMicros = nearDupTtlMicros)(
          _.text, _.ord).map(rejectToQuarantine _)
      else graft.operators.Dedup.streamingNearDupGate(ds, t,
        hotBucketCap = cap, horizonMicros = nearDupTtlMicros)(
        _.text, _.ord)
    }
    val first: org.apache.spark.sql.Dataset[PipeDoc] = nearDupTtlMicros match {
      case Some(_) =>
        // TTL layout: the quarantine rows go AROUND the watermarked
        // gate (split after the ord minting, union before the sink) —
        // inside it their minted negative ords are forever-late. NO
        // observe may sit above the split: the union duplicates every
        // upstream plan node, and a duplicated CollectMetrics would
        // double-count — so every counter lives on exactly one branch
        // and the input totals are derived (n_lines = clean_in + the
        // three quarantine classes, the CorpusIngestStats spelling).
        // The parse runs ONCE despite the split (round 14): the
        // repartition plants a canonically identical exchange in both
        // union branches, and the planner's ReuseExchangeAndSubquery
        // (part of every micro-batch's physical preparation —
        // IncrementalExecution keeps the base rules) executes the
        // parse subtree once and feeds the second branch from the
        // first's shuffle output. The exchange must sit BELOW the
        // mapPartitions ord-minting: a typed object operator is a
        // predicate-pushdown barrier, and without one Catalyst pushes
        // each branch's q_reason filter through the repartition into
        // the shared subtree — two DIFFERENT children, no reuse (the
        // measured round-13 2.00×). Shuffle key: doc_id spreads clean
        // rows, q_raw spreads a malformed spike (doc_id is the -1
        // constant there). Price: one hash shuffle of the batch's
        // rows replaces a second full JSONL parse of the batch's
        // files — measured at the 400 k-line ttlpipe stress
        // (parse_factor 2.00 → 1.00), which also holds the ceiling.
        // The duplicated mint above the exchange may assign the two
        // branches differing negative ords for one quarantine row —
        // harmless by construction: minted ords never touch state and
        // are dropped before either sink (the replay note above).
        val typed = mintOrds(taggedOf(raw)
          .repartition(col("doc_id"), col("q_raw"))
          .as[PipeDoc])
        val clean0 = typed.filter(col("q_reason").isNull)
          .observe("corpus_cin", count(lit(1)).as("n_clean_in"))
        // quality gate at the door, clean branch only — equivalent to
        // the linear layout's disjunctive filter (quarantine passes
        // the door by construction: it is not on this branch)
        // audited low-quality rows stay ON the clean branch (their
        // ords are real non-negative doc_ids, watermark-compatible)
        // and pass the gate statelessly via the emptied text — only
        // MINTED negative ords need the around-the-gate route
        val cleanGated = minQuality.fold(clean0) { m =>
          if (auditGateRejects) qualityAudited(clean0.toDF(), m).as[PipeDoc]
          else clean0.filter(
            graft.operators.TextAnalysis.qualityScore(col("text")) >= m)
        }.observe("corpus_gated",
          sum(when(col("q_reason").isNull, 1L).otherwise(0L))
            .as("n_gate_pass"))
        val admitted = nearDupGated(cleanGated, nearDup.get)
        val quar = typed.filter(col("q_reason").isNotNull)
          .observe("corpus_quar",
            sum(when(col("q_reason") === "malformed", 1L).otherwise(0L))
              .as("n_malformed"),
            sum(when(col("q_reason") === "incomplete", 1L).otherwise(0L))
              .as("n_incomplete"),
            sum(when(col("q_reason") === "invalid", 1L).otherwise(0L))
              .as("n_invalid"))
        admitted.union(quar)
      case None =>
        val observed = raw.observe("corpus_in",
          count(lit(1)).as("n_lines"),
          sum(when(isMalformed, 1L).otherwise(0L)).as("n_malformed"),
          sum(when(isIncomplete, 1L).otherwise(0L)).as("n_incomplete"),
          sum(when(isInvalidId, 1L).otherwise(0L)).as("n_invalid"))
        // quality gate at the door (stateless per-row filter): the
        // batch curation order — gate first, dedup among survivors —
        // via the SAME TextAnalysis.qualityScore column the batch gate
        // evaluates, so stream ≡ batch by shared definition, not by
        // parallel formulas. Quarantine rows pass the door (they are
        // not documents — their fate was decided by the split). ALWAYS
        // observed, counting CLEAN survivors only (== n_clean when
        // ungated, zero extra passes) so the stats table can attribute
        // gate drops separately — without this counter a quality drop
        // would masquerade as a dup rejection and fire the wrong
        // dashboard alarm
        val tagged = taggedOf(observed)
        val gated = minQuality.fold(tagged) { m =>
          if (auditGateRejects) qualityAudited(tagged, m)
          else tagged.filter(col("q_reason").isNotNull ||
            graft.operators.TextAnalysis.qualityScore(col("text")) >= m)
        }.observe("corpus_gated",
          sum(when(col("q_reason").isNull, 1L).otherwise(0L))
            .as("n_gate_pass"))
        val typed = mintOrds(gated.as[PipeDoc])
        // admission gate: exact first-occurrence by default; with
        // `nearDup = Some(threshold)` the streaming MinHash near-dup
        // gate instead — it subsumes exact dedup for every shingled
        // doc (identical text ⇒ identical bands ⇒ Jaccard 1), while
        // shingle-less docs (< 3 words) pass ungated on both the gate
        // and its batch oracle. State: the 1× doc-keyed shingle store
        // instead of one boolean per fingerprint — production runs
        // want the RocksDB state-store provider (see SCALE.md §8d) at
        // crawl cardinality either way. Quarantine rows pass both
        // gates without creating state (no shingles / explicit bypass
        // with a "q|" key a 32-hex md5 can never produce).
        nearDup match {
          case Some(t) => nearDupGated(typed, t)
          case None =>
            graft.operators.Dedup.streamingFirstOccurrenceBy(typed)(
              d => if (d.q_reason != null) "q|" + d.ord
                   else graft.operators.Dedup.md5Hex(d.text),
              _.ord, bypass = _.q_reason != null)
        }
    }
    // the TTL plan (watermark + chained transformWithState) passes
    // Spark's static correctness checker as-is — no opt-out needed
    // (see Dedup.streamingNearDupGate)
    val q = lock.startGuarded(spark) {
      first.toDF()
        // the reject-reason counters ride the SAME observe node as
        // n_admitted (zero extra passes); without the audit they are
        // structurally 0 — no such reason ever reaches the sink
        .observe("corpus_out",
          sum(when(col("q_reason").isNull, 1L).otherwise(0L))
            .as("n_admitted"),
          sum(when(col("q_reason") === "near_dup", 1L).otherwise(0L))
            .as("n_neardup_dropped"),
          sum(when(col("q_reason") === "hot_bucket", 1L).otherwise(0L))
            .as("n_hotbucket_dropped"),
          sum(when(col("q_reason") === "low_quality", 1L).otherwise(0L))
            .as("n_lowq_dropped"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          // two sinks consume this batch — pin it so the second action
          // re-reads the cached rows instead of re-executing the plan
          // (a re-execution would also re-drive the stateful gates)
          batch.persist()
          try {
          val out = batch.filter(col("q_reason").isNull)
            .select("doc_id", "text", "lang", "source", "n_chars")
            .withColumn("part", pmod(col("doc_id"), lit(buckets.toLong)))
          // per-batch OVERWRITE directory, not a bare append: a batch
          // that crashes mid-write replays under the SAME batchId with
          // the same deterministic content (the dedup state commits
          // after this hook returns), so the overwrite makes the sink
          // idempotent — the corpus-side spelling of the metric
          // store's marker discipline. `batch=` rides hive partition
          // discovery as the sink's idempotence ledger; [[readCurated]]
          // drops it and [[compactCurated]] folds committed keys away.
          // Upgrade-window convergence: a PRE-TAG checkpoint resuming
          // under this code replays its crashed batch under a tagged
          // key while the old code's bare `batch=<n>` partial survives
          // on disk — delete it, or it double-counts forever as
          // foreign-committed rows next to the tagged rewrite. Guarded
          // THREE ways so nothing else can ever match: the checkpoint
          // must be legacy (a wiped/recreated checkpoint restarts ids
          // at 0 and its bare-dir collisions are a FOREIGN
          // incarnation's committed data — deleting those is data
          // loss), the id must be EXACTLY the frontier successor
          // (batches commit sequentially, so committedMax0 + 1 is the
          // ONLY id the old code can have written without committing;
          // later ids colliding with bare dirs can only be foreign
          // data, and `>` would hold the delete window open for the
          // query's whole life), and the dir must exist. One
          // exists-probe on one batch ever, zero otherwise.
          if (legacyCkpt && batchId == committedMax0 + 1) {
            val bare = new org.apache.hadoop.fs.Path(
              s"$outPath/data/batch=$batchId")
            val lfs = bare.getFileSystem(
              batch.sparkSession.sparkContext.hadoopConfiguration)
            if (lfs.exists(bare)) lfs.delete(bare, true)
          }
          out.repartition(col("lang"), col("part"))
            .write.partitionBy("lang", "part").mode("overwrite")
            .parquet(s"$outPath/data/batch=${ckptTag}_$batchId")
          // quarantine sink from the SAME batch rows: reason + raw
          // evidence, per-batch overwrite directories for the same
          // replay idempotence as the curated side. Empty batches
          // skip the write — a quarantine tree must not grow one
          // empty dir per clean micro-batch forever. Fan-out is
          // SIZED, not forced to one: the ordinary trickle batch
          // stays one file, but under a malformed-line spike (the
          // upstream-format-change scenario this telemetry exists to
          // catch) an unconditional coalesce(1) would funnel the
          // whole micro-batch through a single task exactly when the
          // pipe is under stress — so large quarantine batches write
          // through a bounded handful of tasks instead, with
          // maxRecordsPerFile capping any one file. The count is a
          // cached-scan over the persisted batch, not a new pass.
          val quar = batch.filter(col("q_reason").isNotNull)
            .select(col("q_reason").as("reason"),
              col("q_raw").as("raw_line"))
          val nQuar = quar.count()
          if (nQuar > 0L)
            quar.coalesce(if (nQuar <= 100000L) 1 else 8)
              .write.option("maxRecordsPerFile", 131072)
              .mode("overwrite")
              .parquet(s"$outPath/quarantine/batch=${ckptTag}_$batchId")
          } finally { batch.unpersist(); () }
          ()
        }
        .start()
    }
    stats.foreach(_.bind(q.runId))
    q
  }

  /** Read the quarantine side of a [[streamCurated]] sink back:
    * `(reason, raw_line)` rows, the per-batch idempotence key dropped
    * — the triage table ("which records lost a field this hour, and
    * what did the upstream actually send").
    */
  def readQuarantine(spark: SparkSession, path: String): DataFrame = {
    // a corpus that never quarantined a line has no tree at all
    // (empty batches skip the write by design) — triage must read an
    // EMPTY table, not die on PATH_NOT_FOUND for being healthy
    val p = new org.apache.hadoop.fs.Path(s"$path/quarantine")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(QuarantineTreeSchema.fields.filterNot(_.name == "batch")))
    else spark.read.parquet(s"$path/quarantine").drop("batch")
  }

  /** The streamed curated tree as a declared schema: the document
    * fields in file order plus the `part` (bucket) and `batch`
    * (sink-idempotence key) partition columns. Declared so partition
    * types never depend on directory-name inference — a tag that
    * happens to be all digits must not flip `batch` to a numeric type
    * under [[compactCurated]]'s string predicates.
    */
  private val StreamedTreeSchema: StructType = StructType(
    DocSchema.fields.filterNot(_.name == "_corrupt") ++ Seq(
      StructField("part", LongType),
      StructField("batch", StringType)))

  /** Fold a [[streamCurated]] sink's committed per-batch directory
    * trees into GENERATION trees `batch=compacted[_g<n>]`
    * ([[writeCurated]]'s one-file-per-(lang, part) discipline inside
    * each) and refresh the corpus `_manifest` — the maintenance op
    * that keeps a continuously ingesting corpus readable. Without it
    * the sink grows one `batch=<key>` tree per micro-batch forever —
    * ~1,440/day at a one-minute trigger, each fanning into up to
    * |langs|·buckets leaf dirs: the exact small-files/listing failure
    * the metric store's `compact()` exists to prevent. Returns the
    * refreshed manifest.
    *
    * GENERATIONAL (the LSM shape): each run folds the new committed
    * batches into a FRESH youngest generation — cost ∝ intake since
    * the last compact, never ∝ corpus — then merges the youngest
    * generations while the size invariant
    * `size(older) ≥ mergeRatio × size(younger)` is violated, so
    * generation count stays ≤ log_ratio(corpus/intake) and total
    * rewrite cost amortizes geometrically. The previous design
    * rewrote the WHOLE committed tree every run — a daily compact of
    * a 100 TB corpus re-paid 100 TB to absorb ~0.1 TB of intake; now
    * the big old generations are only touched when enough younger
    * volume has accumulated to justify it. (A deployment can still
    * prefer a transactional table format — the metric store's same
    * top-end note, SCALE.md §1 — which subsumes this mechanism.)
    *
    * Each fold is crash-safe via a journal, not the whole-tree double
    * rename: the merged tree is fully written to a side dir, a
    * `_compact_journal` (target + folded keys) is atomically renamed
    * into place, the tree moves to its `batch=` key, the folded
    * source dirs are deleted, and the journal is removed. Recovery on
    * entry replays an interrupted fold from whichever step it died at
    * — rows exist ≥ once at every instant, and the only reader-visible
    * crash window is transient double-counting of the folded tail
    * until the next compact (the metric-side swap's analogous window
    * is transient emptiness; both recover on the next maintenance
    * entry).
    *
    * OFFLINE maintenance op: must not run concurrently with the
    * ingest query (same SinkLock as the writer).
    *
    * `activeCheckpoint` follows `HtaStore.compact`'s contract: if the
    * owning query might have crashed mid-batch (any stop that was not
    * a clean `stop()` after `processAllAvailable`), pass its
    * checkpoint — the trailing batch directory that was written but
    * never committed is then carried through UNMERGED under its
    * original key, so the replay's overwrite still converges; folding
    * it would let the replayed batch re-append its rows. `None` is
    * only safe after a clean stop, and that must be a conscious claim
    * by the caller (no default on purpose). Foreign-incarnation keys
    * are always trusted as committed — their checkpoints are gone, so
    * nothing can ever replay them.
    *
    * The refreshed manifest describes the committed generations and is
    * INCREMENTAL: each fold writes its generation's manifest inside the
    * generation tree (committed by the same atomic rename), and the
    * corpus `_manifest` is the monoid merge of the ≤ log-many
    * per-generation manifests — no step of a compact run ever reads a
    * previously committed generation's rows. A crash before the merge
    * leaves a stale corpus manifest that the next compact refreshes —
    * manifest readers get at-least-as-old statistics, never corrupt
    * data. Scale shape per fold: one partition-pruned scan of the
    * folded keys, one (lang, part)-partitioned rewrite, no driver-side
    * data path.
    */
  def compactCurated(spark: SparkSession, path: String,
                     activeCheckpoint: Option[String],
                     mergeRatio: Long = 4L): DataFrame =
    // single-writer exclusion for the WHOLE fold sequence: a live
    // ingest query's foreachBatch firing between a fold's rename and
    // its source deletes would append next to dirs about to move —
    // the exact race the metric store's lock exists for, same SinkLock
    sinkLock(path).withCompact(spark) {
      compactCuratedLocked(spark, path, activeCheckpoint, mergeRatio)
    }

  /** The ONE spelling of this sink's lock identity: the writer and
    * the compactor must name the same root and diagnostics label or
    * they stop excluding each other.
    */
  private def sinkLock(path: String) =
    new graft.streaming.SinkLock(path, "corpus sink")

  /** Generation keys: the bootstrap `compacted` (generation 0 — also
    * what pre-generational trees carry, read compatibly) and
    * `compacted_g<n>`. Numbers only ever increase, and merges always
    * take the YOUNGEST suffix of generations, so number order is age
    * order. A writer's batch key can never collide: tagged keys are
    * `<uuid-or-path>_<id>` and legacy keys are bare digits.
    */
  private val GenKey = "^compacted(?:_g([0-9]+))?$".r

  private def genNumOf(key: String): Option[Long] = key match {
    case GenKey(null) => Some(0L)
    case GenKey(n) => Some(n.toLong)
    case _ => None
  }

  private def compactCuratedLocked(spark: SparkSession, path: String,
                                   activeCheckpoint: Option[String],
                                   mergeRatio: Long): DataFrame = {
    import graft.streaming.{HtaStore, StreamingIngest}
    require(mergeRatio >= 2,
      s"mergeRatio must be >= 2 (got $mergeRatio) — 1 would merge every run")
    val dataPath = s"$path/data"
    val hp = new org.apache.hadoop.fs.Path(dataPath)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = hfs.makeQualified(hp)
    // recovery from the RETIRED whole-tree swap's crash window (a
    // pre-generational compact that died between its two renames
    // leaves data_old/data_compacted) — upgrade path, then journal
    // recovery for this design's own crash windows
    HtaStore.recoverCompact(hfs, cur,
      new org.apache.hadoop.fs.Path(s"$path/data_old"),
      new org.apache.hadoop.fs.Path(s"$path/data_compacted"))
    recoverFold(spark, hfs, path)
    require(hfs.exists(cur),
      s"no curated tree at $dataPath — nothing to compact")
    // the uncommitted-tail rule, driver-side over KEY STRINGS (the
    // generational fold decides per directory, not per row): tagged
    // keys beyond the commit frontier, plus — on a PRE-TAG (legacy)
    // checkpoint only — the bare key at exactly the frontier
    // successor, the one id the old code can have written without
    // committing; any other bare key is foreign committed data and
    // folds. Same semantics the row-level Column predicate had.
    val isUncommitted: String => Boolean = activeCheckpoint match {
      case Some(ckpt) =>
        val (tag, committedMax, legacy) =
          StreamingIngest.checkpointIdentityFull(spark, ckpt)
        key => {
          val tagged = key.startsWith(s"${tag}_") &&
            key.substring(key.lastIndexOf('_') + 1).toLongOption
              .exists(_ > committedMax)
          tagged || (legacy && key.toLongOption.contains(committedMax + 1))
        }
      case None => _ => false
    }
    // ONE spelling of key listing and generation targeting for BOTH
    // trees — a generation-scheme change that only touched a data-side
    // copy would silently diverge the quarantine side's targets
    def keysUnder(root: String): Seq[String] = {
      val rp = new org.apache.hadoop.fs.Path(s"$path/$root")
      if (!hfs.exists(rp)) Nil
      else hfs.listStatus(rp).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch="))
    }
    def nextGenFor(keys: Seq[String]): String = {
      val nums = keys.flatMap(genNumOf)
      if (nums.isEmpty) "compacted" else s"compacted_g${nums.max + 1}"
    }
    def listKeys(): Seq[String] = keysUnder("data")
    def gens(): Seq[String] =
      listKeys().flatMap(k => genNumOf(k).map(n => (k, n)))
        .sortBy(_._2).map(_._1)
    def nextGen(): String = nextGenFor(listKeys())
    // 1. fold the new committed batches into a fresh youngest
    //    generation — the only per-run cost ∝ intake, not corpus
    val foldable = listKeys()
      .filter(k => genNumOf(k).isEmpty && !isUncommitted(k))
    if (foldable.nonEmpty) fold(spark, hfs, path, "data", foldable, nextGen())
    // 2. geometric merge: while the two youngest generations violate
    //    size(older) >= ratio × size(younger), merge them into a
    //    fresh youngest (numbers increase, suffix-merge keeps number
    //    order == age order); cascades upward as the merged tree grows
    def sizeOf(key: String): Long =
      hfs.getContentSummary(
        new org.apache.hadoop.fs.Path(cur, s"batch=$key")).getLength
    var merging = true
    while (merging) {
      val gs = gens()
      if (gs.length < 2) merging = false
      else {
        val y1 = gs.last
        val y2 = gs(gs.length - 2)
        if (sizeOf(y2) < mergeRatio * sizeOf(y1))
          fold(spark, hfs, path, "data", Seq(y2, y1), nextGen())
        else merging = false
      }
    }
    // 3. fold the quarantine side's batch trees too — the same
    //    dir-per-batch listing hazard, at trickle volume. No
    //    generational ladder needed here: when fresh committed batches
    //    exist, ALL committed quarantine content (prior generation
    //    included) folds into one fresh generation key — O(quarantine)
    //    per run, and quarantine ≪ corpus by nature (a crawl whose
    //    quarantine rivals its corpus has a bigger problem than
    //    listing cost). Idempotent: no fresh batches ⇒ no rewrite.
    //    The uncommitted-tail rule is the SAME predicate — quarantine
    //    batch keys mirror the curated sink's, so a replayed batch's
    //    quarantine rows converge by overwrite exactly like its docs.
    val qKeys = keysUnder("quarantine")
    val qFresh = qKeys.filter(k => genNumOf(k).isEmpty && !isUncommitted(k))
    if (qFresh.nonEmpty) {
      val qAll = qKeys.filter(k => genNumOf(k).nonEmpty || !isUncommitted(k))
      fold(spark, hfs, path, "quarantine", qAll, nextGenFor(qKeys))
    }
    // 4. refresh the corpus _manifest INCREMENTALLY: merge the ≤
    //    log-many per-generation manifests (each written by the fold
    //    that created its generation) instead of re-aggregating every
    //    committed generation's rows — the old full-tree refresh was
    //    the last O(corpus) term in an otherwise intake-proportional
    //    design (at 100 TB it re-paid a full corpus scan per compact)
    writeMergedManifest(spark, hfs, path, gens())
  }

  /** Per-generation manifest location: INSIDE the generation tree, so
    * the fold's one atomic journal-then-rename commits a generation
    * and its manifest together, a merge's source deletes retire both,
    * and data readers never see it (underscore-prefixed paths are
    * invisible to Spark's file listing).
    */
  private def genManifestPath(path: String, key: String) =
    new org.apache.hadoop.fs.Path(s"$path/data/batch=$key/_manifest")

  /** Corpus `_manifest` = the monoid merge (sum counts/tokens,
    * min/max ids, per (lang, part)) of the per-generation manifests.
    * Cost ∝ |generations| × |langs| × buckets rows — never ∝ corpus.
    *
    * Upgrade path: a generation written before per-generation
    * manifests existed carries none — compute it ONCE from its rows
    * (one partition-pruned scan of that generation, never repeated)
    * through a temp-dir + atomic-rename so a crash can never leave a
    * half-written manifest that a later merge would read as truncated
    * statistics.
    */
  private def writeMergedManifest(spark: SparkSession,
                                  hfs: org.apache.hadoop.fs.FileSystem,
                                  path: String,
                                  genKeys: Seq[String]): DataFrame = {
    genKeys.foreach { k =>
      val mp = genManifestPath(path, k)
      if (!hfs.exists(mp)) {
        val tmp = new org.apache.hadoop.fs.Path(
          s"$path/data/batch=$k/_manifest_tmp")
        if (hfs.exists(tmp)) hfs.delete(tmp, true)
        manifestAgg(spark.read.schema(GenTreeSchema)
            .parquet(s"$path/data/batch=$k"))
          .coalesce(1).write.parquet(tmp.toString)
        if (!hfs.rename(tmp, mp)) throw new java.io.IOException(
          s"compact manifest upgrade: rename $tmp -> $mp failed")
      }
    }
    val merged =
      if (genKeys.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          ManifestSchema)
      else
        spark.read.schema(ManifestSchema)
          .parquet(genKeys.map(k => genManifestPath(path, k).toString): _*)
          .groupBy("lang", "part")
          .agg(sum("n_docs").as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            min("min_doc_id").as("min_doc_id"),
            max("max_doc_id").as("max_doc_id"))
    merged.coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    merged
  }

  /** The quarantine tree's declared read schema for folds (`batch` is
    * the hive partition level, string for the same reason as
    * [[StreamedTreeSchema]]'s).
    */
  private val QuarantineTreeSchema: StructType = StructType(Seq(
    StructField("reason", StringType),
    StructField("raw_line", StringType),
    StructField("batch", StringType)))

  /** One generation tree's declared read schema — [[StreamedTreeSchema]]
    * without the `batch` level (a generation is read at its own root).
    */
  private val GenTreeSchema: StructType =
    StructType(StreamedTreeSchema.fields.filterNot(_.name == "batch"))

  /** Retire a directory and VERIFY it is gone: `FileSystem.delete`
    * reports failure by boolean, and a silently failed delete of a
    * folded source key would leave its rows on disk with no journal —
    * the next compact would treat them as fresh committed data and
    * fold them AGAIN, permanent row duplication (unlike the journaled
    * crash windows, which all recover). Throwing keeps the journal in
    * place so recovery retries the retirement. `delete` also returns
    * false when the path never existed (a recovery replay re-deleting
    * an already-retired key), so the verdict is existence, not the
    * boolean alone.
    */
  private def deleteVerified(hfs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Unit =
    if (!hfs.delete(p, true) && hfs.exists(p))
      throw new java.io.IOException(
        s"compact fold: failed to retire $p — rows would double-count " +
          "if the journal were dropped now")

  /** One crash-safe fold under `<path>/<root>` (root = `data` or
    * `quarantine`): rewrite the rows of `keys` into a single
    * `batch=<target>` tree (one file per (lang, part) leaf on the
    * data side; one file on the trickle-sized quarantine side), then
    * retire the source dirs. Commit point is the atomic journal
    * rename — see [[recoverFold]] for how each crash window replays.
    * The read is partition-pruned to exactly `keys`; nothing outside
    * them is scanned or rewritten.
    */
  private def fold(spark: SparkSession, hfs: org.apache.hadoop.fs.FileSystem,
                   path: String, root: String, keys: Seq[String],
                   target: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$path/gen_tmp")
    if (hfs.exists(tmp)) hfs.delete(tmp, true)
    val src = spark.read
      .schema(if (root == "data") StreamedTreeSchema else QuarantineTreeSchema)
      .parquet(s"$path/$root")
      .filter(col("batch").isin(keys: _*))
      .drop("batch")
    if (root == "data")
      src.repartition(col("lang"), col("part"))
        .write.partitionBy("lang", "part").parquet(tmp.toString)
    else
      src.coalesce(1).write.parquet(tmp.toString)
    val hasRows = hfs.listStatus(tmp).exists(st =>
      st.isDirectory || !st.getPath.getName.startsWith("_"))
    if (!hasRows) {
      // all-empty sources (e.g. batches whose every line quarantined):
      // no generation to create — just retire the empty dirs (safe
      // without a journal: there are no rows to lose or double)
      hfs.delete(tmp, true)
      keys.foreach(k => deleteVerified(hfs,
        new org.apache.hadoop.fs.Path(s"$path/$root/batch=$k")))
      ()
    } else {
      // the generation's own manifest rides INSIDE the tree (underscore
      // dir — invisible to data readers), so the journal rename below
      // commits data + statistics in one atomic step and the corpus
      // _manifest can be refreshed by merging per-generation manifests
      // instead of re-scanning every generation's rows. One extra scan
      // of the just-written intake — ∝ this fold, never ∝ corpus —
      // and it describes what LANDED, not what the lineage computed.
      if (root == "data")
        manifestAgg(spark.read.schema(GenTreeSchema).parquet(tmp.toString))
          .coalesce(1).write
          .parquet(new org.apache.hadoop.fs.Path(tmp, "_manifest").toString)
      writeJournal(hfs, path, root, target, keys)
      if (!hfs.rename(tmp, genPath(path, root, target)))
        throw new java.io.IOException(
          s"compact fold: rename $tmp -> ${genPath(path, root, target)} failed")
      keys.foreach(k => deleteVerified(hfs,
        new org.apache.hadoop.fs.Path(s"$path/$root/batch=$k")))
      hfs.delete(journalPath(path), false)
      ()
    }
  }

  private def genPath(path: String, root: String, target: String) =
    new org.apache.hadoop.fs.Path(s"$path/$root/batch=$target")
  private def journalPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_compact_journal")

  /** Journal = tree root + target key + folded keys, written whole to
    * a temp file and atomically renamed in (the graft-id discipline):
    * its PRESENCE means "the merged tree is complete — commit by
    * moving it and retiring the sources".
    */
  private def writeJournal(hfs: org.apache.hadoop.fs.FileSystem,
                           path: String, root: String, target: String,
                           keys: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_compact_journal.tmp")
    val out = hfs.create(tmp, true)
    try out.write((root +: target +: keys).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!hfs.rename(tmp, journalPath(path)))
      throw new java.io.IOException(
        s"compact fold: journal rename into ${journalPath(path)} failed")
  }

  /** Replay an interrupted fold from whichever step it died at. The
    * journal is written only AFTER the merged tree is complete, and
    * the move is an atomic rename, so exactly one of these holds:
    *  - no journal: a bare `gen_tmp` is an incomplete build whose rows
    *    still live in the source keys — discard it;
    *  - journal + target absent: the tree is still at `gen_tmp` —
    *    finish the move, then the deletes;
    *  - journal + target present: the move landed — finish deleting
    *    whichever source keys remain, then the journal;
    *  - journal + NEITHER tree (manual tampering): refuse unless every
    *    source key is still present, in which case the fold never
    *    committed and the journal is safely dropped.
    * First journal line is the tree root (`data`/`quarantine`); a
    * two-field journal without a root marker is the round-11 data-only
    * format and recovers against `data`.
    */
  private def recoverFold(spark: SparkSession,
                          hfs: org.apache.hadoop.fs.FileSystem,
                          path: String): Unit = {
    val jp = journalPath(path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/gen_tmp")
    if (!hfs.exists(jp)) {
      if (hfs.exists(tmp)) hfs.delete(tmp, true)
      return
    }
    val in = hfs.open(jp)
    val lines0 = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    require(lines0.nonEmpty, s"corrupt compact journal $jp — empty")
    val (root, lines) =
      if (lines0.head == "data" || lines0.head == "quarantine")
        (lines0.head, lines0.tail)
      else ("data", lines0)
    require(lines.nonEmpty, s"corrupt compact journal $jp — no target")
    val target = lines.head
    val keys = lines.tail
    val tgt = genPath(path, root, target)
    if (!hfs.exists(tgt)) {
      if (hfs.exists(tmp)) {
        if (!hfs.rename(tmp, tgt)) throw new java.io.IOException(
          s"compact recovery: rename $tmp -> $tgt failed")
      } else {
        require(keys.forall(k => hfs.exists(
          new org.apache.hadoop.fs.Path(s"$path/$root/batch=$k"))),
          s"corrupt compact state: journal $jp names a fold whose " +
            "merged tree AND some source keys are both missing")
        hfs.delete(jp, false)
        return
      }
    }
    keys.foreach(k => deleteVerified(hfs,
      new org.apache.hadoop.fs.Path(s"$path/$root/batch=$k")))
    hfs.delete(jp, false)
    ()
  }

  /** Read a curated corpus back — batch-written ([[writeCurated]]),
    * streamed ([[streamCurated]]), or streamed-then-compacted — with
    * ONE schema: the document fields plus `lang`/`part`. Optionally
    * pruned to one language; the filter is a partition predicate, so
    * only that language's directories are listed and scanned.
    */
  def readCurated(spark: SparkSession, path: String,
                  lang: Option[String] = None): DataFrame = {
    // DECLARED schema, the fold paths' discipline on the read path
    // too: partition types must not depend on directory-name luck
    // (inference types `part` INT, and a `batch` tag that happens to
    // be all digits would flip to numeric), and declaring the schema
    // skips the footer-sampling inference pass. The streamed sink's
    // `batch` partition level is its idempotence ledger, not data —
    // drop it; on batch-written layouts (no `batch` directory level)
    // the declared column simply reads back null and drops the same.
    val df = spark.read.schema(StreamedTreeSchema)
      .parquet(s"$path/data").drop("batch")
    lang.fold(df)(l => df.filter(col("lang") === l))
  }

  /** The stored manifest of a curated corpus. */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_manifest")
}
