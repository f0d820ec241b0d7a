package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.10):
  * exact, n-gram Jaccard, MinHash+LSH candidate generation, SimHash.
  *
  * Determinism design (oracle parity): every hash is `md5` (identical in
  * Spark and DuckDB), every score is a single integer→double division, and
  * MinHash minima are lexicographic minima over hex strings — no
  * engine-specific hash functions anywhere.
  *
  * Scale posture: the all-pairs Jaccard join is the *verifier*, blocked by
  * a length band to bound the candidate set; at 100 TB candidate
  * generation must come from [[lshCandidatePairs]] (shuffle on band
  * signature — |candidates| ≈ near-dup pairs, not n²) and the Jaccard
  * join runs only on those candidates.
  */
object Dedup {

  /** Exact dedup: keep the lowest-`tiebreak` row per key group, with the
    * group size attached (X1 — `dropDuplicates` + provenance).
    * `tiebreak` must be unique within each key group — with ties the
    * surviving row is partition-layout-dependent, which breaks the
    * engine's deterministic-output contract.
    */
  def exactDedup(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct word n-gram shingles of a whitespace-tokenized text column.
    * Native expression — see [[graft.functions.WordShingles]] for why the
    * built-in HOF formulation is ~50× slower.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles(text, n)

  /** Documents with shingle sets + length-band blocking key columns. */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), col("n_chars"), shingles(col("text"), n).as("sh"))

  /** Exact n-gram Jaccard pairs ≥ `threshold` (> 0) within a ±`band`-char
    * length block.
    *
    * Implemented as a posting-list equi-join: explode shingles, shuffle
    * hash-join on the shingle value, count shared shingles per pair. Any
    * pair with jaccard > 0 shares a shingle, so this is exhaustive — and
    * unlike the naive banded nested-loop + `array_intersect`, every join
    * here is an equi-join Spark executes as a shuffle (or sort-merge)
    * join, which survives a 100× scale-up.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, band: Long = 50L): DataFrame = {
    val (sh, cand) = jaccardCandidates(docs, threshold, band)
    verifyJaccard(cand, sh, threshold)
  }

  /** The candidate stage of [[jaccardPairs]] — shingle sets plus the
    * prefix-posting candidate pairs BEFORE exact verification.
    * `private[graft]` so StressProof can hold the "candidates ∝
    * near-dup density, never n²" claim as a measured count at high
    * cardinality, exactly as it does for the LSH generator.
    */
  private[graft] def jaccardCandidates(docs: DataFrame, threshold: Double,
                                       band: Long): (DataFrame, DataFrame) = {
    val (sh, prefix) = prefixPostings(docs, threshold, lit(false))
    val a = prefix.select(col("doc_id").as("doc_a"), col("n_chars").as("ca"), col("g"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("n_chars").as("cb"), col("g"))
    val cand = a.join(b, Seq("g"))
      .filter(col("doc_a") < col("doc_b") &&
        col("cb") >= col("ca") - band && col("cb") <= col("ca") + band)
      .select("doc_a", "doc_b").distinct()
    (sh, cand)
  }

  /** Shingle sets + AllPairs prefix postings under the corpus-global
    * canonical order — the candidate-generation core shared by
    * [[jaccardPairs]] (self-join) and [[crossCorpusPairs]] (bipartite).
    *
    * Prefix filtering (AllPairs/PPJoin): under a global canonical shingle
    * order (rarest first), two sets with jaccard ≥ t must share a shingle
    * within each other's first ⌊(1−t)·|sh|⌋+1 shingles. Joining only the
    * prefixes keeps hot shingles (whose posting lists explode a naive
    * posting join quadratically) out of the join entirely. The bound
    * holds for ANY pair under ONE shared total order, so self-join and
    * bipartite consumers use the identical prefixes.
    *
    * Returns (sh: doc_id, n_chars, is_ref, sh, sz;
    *          prefix: doc_id, n_chars, is_ref, g).
    */
  private def prefixPostings(docs: DataFrame, threshold: Double,
                             tag: Column): (DataFrame, DataFrame) = {
    require(threshold > 0, "prefix filtering needs a positive threshold")
    val sh = docs.select(col("doc_id"), col("n_chars"), tag.as("is_ref"),
        shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")).cast("long"))
    val posts = sh.select(col("doc_id"), col("n_chars"), col("is_ref"),
      col("sz"), explode(col("sh")).as("g"))
    val freq = posts.groupBy("g").agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("f"), col("g"))
    // prefix length = |sh| − ⌈t·|sh|⌉ + 1, computed with an epsilon so
    // IEEE noise in t·|sh| (e.g. 0.9·10 = 9.000000000000002) can never
    // round the ceiling up and silently shrink the prefix below the
    // AllPairs bound (which would drop threshold-boundary pairs)
    val prefixLen = col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1
    val prefix = posts.join(freq, "g")
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= prefixLen)
      .select("doc_id", "n_chars", "is_ref", "g")
    // Both outputs are consumed TWICE by every caller (prefix on each
    // side of the candidate self/bipartite join, sh on each side of
    // the exact verification), and Spark reuses neither subtree — the
    // two sides differ in projection, so their exchanges never
    // canonicalize equal and the whole shingle→explode→freq→window
    // pipeline runs once PER SIDE. Persist replaces the duplicate
    // corpus passes with one compute + cached reads; MEMORY_AND_DISK
    // spills rather than OOMs at corpus scale (the
    // lshCandidatePairsWithReport band-table discipline — and `sh` /
    // `prefix` are O(corpus shingles), the same order as the text the
    // duplicate pass would re-parse). Release contract: the CALLER
    // owns these blocks — the repo's drivers snapshot+release per
    // query (releaseNewlyPersisted); external callers wrap consumption
    // in CacheScope.scoped (see that object's doc).
    (sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      prefix.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Cross-corpus near-dup pairs — the incremental-ingest dedup stage:
    * which NEW documents (¬`isRef`) near-duplicate something already in
    * the curated REFERENCE corpus (`isRef`)? Exact n-gram Jaccard ≥
    * `threshold` within a ±`band`-char length block, like
    * [[jaccardPairs]], but the candidate join is BIPARTITE (new ⋈ ref),
    * so intra-side duplicates — already handled when each side was
    * curated — generate no candidates at all. Returns
    * (new_id, ref_id, jaccard).
    *
    * Scale posture: identical to x21 — prefix-filtered posting
    * equi-join (one shared canonical order over the union corpus keeps
    * the AllPairs bound valid across sides), exact verification only on
    * candidates. The reference side is typically the big one (the
    * accumulated corpus); nothing here assumes either side broadcasts.
    */
  def crossCorpusPairs(docs: DataFrame, isRef: Column, threshold: Double,
                       band: Long = 50L): DataFrame = {
    val (sh, prefix) = prefixPostings(docs, threshold, isRef)
    val a = prefix.filter(!col("is_ref"))
      .select(col("doc_id").as("doc_a"), col("n_chars").as("ca"), col("g"))
    val b = prefix.filter(col("is_ref"))
      .select(col("doc_id").as("doc_b"), col("n_chars").as("cb"), col("g"))
    val cand = a.join(b, Seq("g"))
      .filter(col("cb") >= col("ca") - band && col("cb") <= col("ca") + band)
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cand, sh, threshold)
      .select(col("doc_a").as("new_id"), col("doc_b").as("ref_id"),
        col("jaccard"))
  }

  /** Exact Jaccard verification of candidate pairs against shingle sets. */
  private[graft] def verifyJaccard(cand: DataFrame, sh: DataFrame,
                                   threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sa"), col("sb")))
    val uni = size(col("sa")) + size(col("sb")) - inter
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("jaccard", inter.cast("double") / uni.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash signature columns `h0…h{k−1}`: each is the integer min over
    * shingles of `g1 + i·g2`, where `g1`/`g2` are the two 56-bit halves
    * of ONE `md5(shingle)` (hex chars 1–14 and 17–30). Double hashing
    * (Kirsch–Mitzenmacher, "Less hashing, same performance") gives k
    * hash functions for the price of one md5 — at corpus scale the k
    * salted md5s this replaces were the dominant candidate-generation
    * cost — and md5 + decimal longs are bit-identical in every engine.
    * No overflow: `g1 + 11·g2 < 12·2^56 < 2^60`, exact in int64 (and
    * under ANSI mode). LSH recall at the working threshold is
    * empirically re-verified in ExtensionsSpec.
    *
    * Shape: explode shingles → one md5 + k multiply-adds per
    * (doc, shingle) row → groupBy min. The min is a partial-aggregating
    * shuffle, now over k longs instead of k 16-char strings — ~2.5×
    * less shuffle payload per row.
    */
  def withMinhashSignature(shingledDocs: DataFrame, k: Int = 12): DataFrame = {
    val hashed = shingledDocs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      // fused: one digest → both 56-bit halves, no hex string
      // (= conv(substring(md5(s), 1|17, 14), 16, 10) exactly)
      .select(col("doc_id"),
        graft.functions.Md5Longs(col("s"), Seq((1, 14), (17, 14))).as("gs"))
      .select(col("doc_id"),
        element_at(col("gs"), 1).as("g1"), element_at(col("gs"), 2).as("g2"))
      .select(col("doc_id") +: (0 until k).map(i =>
        (col("g1") + lit(i.toLong) * col("g2")).as(s"h$i")): _*)
    hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("h0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"h$i")): _*)
  }

  /** LSH banding: k signatures in bands of `r` → band signature =
    * md5(h_{jr} | … | h_{jr+r−1}). Docs sharing ANY band signature are
    * candidates. One shuffle on (band, sig); bucket self-join.
    */
  /** `bucketCap` is the batch sibling of the streaming gates'
    * hot-bucket circuit breaker: a band bucket holding more than
    * `bucketCap` docs contributes NO candidate pairs — an
    * intra-bucket join there is O(bucket²), and a bucket that large
    * is boilerplate by construction (FAISS's max-list-length
    * semantics; a one-in-millions MinHash collision does not put
    * thousands of docs in one 3-row band). Unlike the sequential
    * gates the batch form is symmetric, so the capped output has a
    * simple closed form (pairs from ≤ cap buckets only — the x160
    * oracle) and [[lshOversizedBuckets]] surfaces exactly what was
    * skipped, member by member, for the boilerplate report the skip
    * implies (the x97 drop-reason discipline). Default ∞ = today's
    * exhaustive behavior, plan-unchanged.
    */
  def lshCandidatePairs(docs: DataFrame, k: Int = 12, r: Int = 3,
                        bucketCap: Int = Int.MaxValue): DataFrame = {
    require(r > 0 && k % r == 0,
      s"band width $r must divide signature size $k (else hashes are silently dropped)")
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    val bounded =
      if (bucketCap == Int.MaxValue) bandRowsTable(docs, k, r)
      else sizedBandRows(docs, k, r)
        .filter(col("bucket_size") <= bucketCap).drop("bucket_size")
    // the bucket self-join consumes the band table on BOTH sides, and
    // the sides' differing projections block exchange reuse — without
    // this persist the whole shingle→minhash→band pipeline runs twice
    // (the lshCandidatePairsWithReport band-table discipline, applied
    // to the plain candidate path; O(docs · k/r) small rows); released
    // by the caller — the CacheScope contract
    pairsFromBandRows(bounded.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The bucket self-join of [[lshCandidatePairs]] over an
    * already-bounded band-row table — split out so the one-scan
    * cap+report combo builds pairs from the SAME rows its report
    * reads (one definition of the join).
    */
  private def pairsFromBandRows(bounded: DataFrame): DataFrame = {
    val l = bounded.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val rr = bounded.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    l.join(rr, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** [[bandRowsTable]] plus each row's bucket occupancy — one count
    * over the bucket join's own (band, sig) shuffle key, an
    * aggregation, not a new join dimension. The ONE spelling of the
    * bucket-size rule shared by the capped candidate path, the skip
    * report and the one-scan combo.
    */
  private def sizedBandRows(docs: DataFrame, k: Int, r: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("sig"))
    bandRowsTable(docs, k, r)
      .withColumn("bucket_size", count(lit(1)).over(w))
  }

  /** The capped candidate pairs AND their boilerplate skip report
    * from ONE shingle→minhash→band computation — calling
    * [[lshCandidatePairs]] and [[lshOversizedBuckets]] separately
    * re-runs the full corpus pipeline twice, which at crawl scale is
    * a second corpus scan for the report the cap implies you want.
    * The shared sized band-row table is cached (memory-and-disk —
    * it is O(docs · k/r) small rows, not the corpus text); `pairs`
    * and `oversized` are exactly the two functions' outputs, derived
    * from the SAME rows. Call [[CappedLsh.unpersist]] once both are
    * consumed.
    */
  def lshCandidatePairsWithReport(docs: DataFrame, bucketCap: Int,
                                  k: Int = 12, r: Int = 3): CappedLsh = {
    require(r > 0 && k % r == 0,
      s"band width $r must divide signature size $k (else hashes are silently dropped)")
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    val sized = sizedBandRows(docs, k, r)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CappedLsh(
      pairsFromBandRows(
        sized.filter(col("bucket_size") <= bucketCap).drop("bucket_size")),
      sized.filter(col("bucket_size") > bucketCap),
      sized)
  }

  /** One-scan cap+report handle (see
    * [[lshCandidatePairsWithReport]]): `pairs` ≡ the capped
    * [[lshCandidatePairs]], `oversized` ≡ [[lshOversizedBuckets]];
    * both read the one cached band table — [[unpersist]] it when
    * done.
    */
  final case class CappedLsh(pairs: DataFrame, oversized: DataFrame,
                             private val bands: DataFrame) {
    def unpersist(): Unit = { bands.unpersist(); () }
  }

  /** The (band, sig) rows of every shingled doc — the shared band
    * fan-out of [[lshCandidatePairs]] and [[lshOversizedBuckets]]
    * (one definition, the bucket rule cannot drift between the
    * candidate path and its skip report).
    */
  private def bandRowsTable(docs: DataFrame, k: Int, r: Int): DataFrame = {
    // empty-shingle docs have no signature (NULL min) — drop them here so
    // they can't cluster into one degenerate bucket
    val sig = withMinhashSignature(shingled(docs).filter(size(col("sh")) > 0), k)
    val nBands = k / r
    sig.select(col("doc_id"),
      explode(array((0 until nBands).map { j =>
        struct(lit(j).as("band"),
          md5(concat_ws("|", (0 until r).map(o => col(s"h${j * r + o}")): _*)).as("sig"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.sig"))
      .filter(col("sig").isNotNull)
  }

  /** The members of every band bucket LARGER than `bucketCap` — what
    * a capped [[lshCandidatePairs]] skipped, surfaced with identity
    * (doc, band, bucket signature, bucket size) so the skip is a
    * boilerplate REPORT, not a silent hole: at crawl scale these
    * buckets ARE the template/boilerplate clusters, and the natural
    * follow-up is exact dedup or removal over exactly these docs.
    */
  def lshOversizedBuckets(docs: DataFrame, bucketCap: Int,
                          k: Int = 12, r: Int = 3): DataFrame = {
    require(r > 0 && k % r == 0,
      s"band width $r must divide signature size $k (else hashes are silently dropped)")
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    sizedBandRows(docs, k, r).filter(col("bucket_size") > bucketCap)
  }

  /** LSH candidates verified by exact Jaccard — the scalable near-dup
    * pipeline (candidate gen O(n·bands), verification O(|candidates|)).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double,
                      k: Int = 12, r: Int = 3,
                      bucketCap: Int = Int.MaxValue): DataFrame =
    // the verify join reads the shingle table twice (sa / sb side) —
    // persist it so the corpus text is shingle-parsed once, not twice
    // (the prefixPostings discipline; drivers release per query)
    verifyJaccard(lshCandidatePairs(docs, k, r, bucketCap),
      shingled(docs).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold)

  /** LSH quality audit — precision and recall of the banded-MinHash
    * candidate generator against the EXACT prefix-postings ground
    * truth, per working threshold: the dedup sibling of the x88/x99
    * ANN recall audits ("trust, but verify the approximation before
    * betting the dedup pass on it"). For each `t` in `thresholds`:
    * `n_cand` (threshold-independent LSH candidate pairs),
    * `n_verified` (candidates at exact Jaccard ≥ t — the pairs the
    * x22 pipeline would emit), `n_true` (exhaustive ≥ t pairs within
    * the ±`band`-char block, the x21 rule), `n_hit` (their overlap),
    * `precision` = n_verified/n_cand (how much verification work the
    * banding wastes), `recall` = n_hit/n_true (what the banding
    * misses). Verified pairs OUTSIDE the length band are counted in
    * n_verified but not n_hit — the audit reports the generators'
    * honest disagreement instead of hiding it.
    *
    * Scale posture: candidates and their exact Jaccards are computed
    * ONCE (threshold 0 ⇒ no filter) and the ground truth once at
    * min(thresholds); the sweep is a broadcast |T|-row seed fanned
    * over the candidate-bounded pair tables (the x99 curve's shape —
    * a deliberate tiny-side NLJ), then two |T|-row aggregates and one
    * |T|-row join. Nothing rescans the corpus per threshold.
    */
  def lshAudit(docs: DataFrame, thresholds: Seq[Double], k: Int = 12,
               r: Int = 3, band: Long = 50L): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t <= 1),
      s"thresholds must be in (0, 1], got $thresholds")
    require(thresholds.distinct == thresholds,
      s"duplicate thresholds would double-count every row: $thresholds")
    val seed = {
      import docs.sparkSession.implicits._
      thresholds.sorted.toDF("threshold")
    }
    // the hint serves the two crossJoins; the left outer joins below
    // cannot build their LEFT side, so they take the unhinted seed
    val ts = broadcast(seed)
    val sh = shingled(docs)
    val candJ = verifyJaccard(lshCandidatePairs(docs, k, r), sh, 0.0)
    val truth = jaccardPairs(docs, thresholds.min, band)
    val flagged = candJ.join(
      truth.select(col("doc_a"), col("doc_b"), lit(1L).as("in_truth")),
      Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard"),
        coalesce(col("in_truth"), lit(0L)).as("in_truth"))
    val candAgg = flagged.crossJoin(ts).groupBy("threshold").agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
        .as("n_verified"),
      sum(when(col("jaccard") >= col("threshold") && col("in_truth") === 1L,
        1L).otherwise(0L)).as("n_hit"))
    val truthAgg = truth.crossJoin(ts).groupBy("threshold").agg(
      sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
        .as("n_true"))
    seed.join(candAgg, Seq("threshold"), "left")
      .join(truthAgg, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("precision",
        when(col("n_cand") > 0,
          col("n_verified").cast("double") / col("n_cand").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("n_true") > 0,
          col("n_hit").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Connected components over a near-dup pair list → cluster id per
    * document (min doc_id reachable), the step that turns pairwise
    * near-dup evidence into dedup groups ("keep one doc per cluster").
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors; converges in
    * O(cluster diameter) rounds, each one equi-join + groupBy. Near-dup
    * clusters are short-diameter by construction (similarity is
    * near-transitive), so the round count stays small at any corpus
    * size; each round is a plain shuffle join that scales out. The
    * iteration is driver-controlled but the data never leaves
    * executors (the alternating-star optimization can replace this
    * loop if profiling ever demands fewer rounds).
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 25,
                      reliable: Boolean = false): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct().cache()
    // per round, ONE job does everything: the relabeled set carries a
    // `changed` flag, and the eager checkpoint both materializes the
    // round and TRUNCATES LINEAGE — each round's plan references
    // `labels` twice (neighborMin + the left join), so without
    // truncation the logical tree doubles per round and cache-lookup
    // canonicalization goes exponential long before maxIter (a
    // non-converging input would hang, not fail loudly). Old rounds'
    // checkpoint blocks are freed by the ContextCleaner once
    // unreferenced. localCheckpoint blocks are unreplicated with no
    // lineage, so losing an executor mid-loop fails the job — on a
    // preemptible/dynamic-allocation cluster pass `reliable = true`
    // (requires `sparkContext.setCheckpointDir`) to write rounds to
    // fault-tolerant storage instead
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    // fused first round: the identity labeling's first propagation
    // step is a pure function of the edge list — label(v) =
    // min({v} ∪ Γ(v)) — so fold it into initialization (one groupBy,
    // the same shuffle the old identity-distinct paid) and start the
    // loop from the post-round-1 state: one fewer
    // join+groupBy+checkpoint round per call, identical fixpoint (the
    // remaining iteration sequence is exactly the old one's tail)
    var labels = materialize(edges.groupBy("src")
      .agg(least(min(col("dst")), first(col("src"))).as("cluster"))
      .withColumnRenamed("src", "doc_id"))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster")), "dst")
        .groupBy("src").agg(min("cluster").as("nmin"))
        .withColumnRenamed("src", "doc_id")
      val updated = materialize(labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          (coalesce(col("nmin"), col("cluster")) < col("cluster")).as("changed")))
      converged = updated.filter(col("changed")).count() == 0
      labels = updated.select("doc_id", "cluster")
      it += 1
    }
    edges.unpersist()
    // a silent non-fixpoint would return wrong clusters that downstream
    // dedup acts on — fail loudly instead (pathological chain graphs
    // need a larger maxIter or the alternating-star variant). Round
    // accounting: the fused initialization above IS propagation round
    // one, so the budget is maxIter LOOP rounds on top of it —
    // maxIter+1 propagation rounds total before this failure
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within ${maxIter + 1} " +
          s"propagation rounds (the fused initialization round plus " +
          s"maxIter=$maxIter loop rounds)")
    labels.withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy("cluster")))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SOCC 2014) — the high-diameter companion to
    * [[nearDupClusters]]: O(log² n) rounds on ANY graph shape, where
    * min-label propagation needs O(diameter) rounds and a pathological
    * chain of near-dups (doc₁≈doc₂≈…≈docₙ) would exhaust its budget.
    *
    * Each round is two groupBy-min + join passes over the edge list —
    * the same shuffle shape as one propagation round, so at 100 TB the
    * choice between the two is purely (rounds × shuffle) arithmetic:
    * propagation wins on shallow similarity clusters (2-4 rounds),
    * contraction wins on chains. Both are exposed; callers pick by
    * corpus shape.
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ {u}) — halves the depth of tall subtrees;
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-points to
    *    m — flattens what remains into stars.
    *
    * Convergence: a round that changes nothing (same canonical edge
    * multiset) means every tree is a star rooted at its component
    * minimum. Detected by (count, xxhash64-sum) checksum — collision
    * odds are negligible and a false "converged" would only surface as
    * an oracle mismatch, never silent data loss at two independent
    * 64-bit sums.
    *
    * Output schema AND node contract match [[nearDupClusters]]:
    * `(doc_id, cluster, cluster_size)` with cluster = component min,
    * and a node appearing only in self-pairs comes out as a singleton
    * cluster (contraction drops self-loops internally, so singletons
    * are re-attached from the input node set at the end).
    */
  def starClusters(pairs: DataFrame, maxIter: Int = 50,
                   reliable: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    // canonical directed form u > v (parent-pointer convention: larger
    // node points at smaller), self-loops dropped
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()

    def checksum(edges: DataFrame): (Long, Long, Long) = {
      // bit_xor, not sum: xor of 64-bit hashes cannot overflow (ANSI
      // mode makes sum throw), and the edge set is distinct so no two
      // identical hashes cancel
      val r = edges.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(bit_xor(xxhash64(col("v"), col("u"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // large-star operates on the FULL symmetric neighborhood; small-star
    // on the canonical (u > v) form only
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      canon(sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
      canon(edges.join(mins, "u")
        .select(explode(array(
          struct(col("u").as("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v")))
    }

    val input = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    // every node mentioned in the input, BEFORE self-loops are dropped —
    // a node with only self-pairs must still surface as a singleton
    // (the contract nearDupClusters keeps via its symmetric union)
    val allNodes = materialize(input.select(col("u").as("doc_id"))
      .unionByName(input.select(col("v").as("doc_id"))).distinct())
    var edges = materialize(canon(input))
    var sig = checksum(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // eager checkpoint (not cache) each round: star-contraction plans
      // deepen by two joins per round, and 50 rounds of lineage would
      // overwhelm the optimizer; materialize-and-truncate keeps every
      // round's plan two joins deep (`reliable` trades local speed for
      // executor-loss tolerance, as in nearDupClusters)
      val next = materialize(smallStar(largeStar(edges)))
      val nextSig = checksum(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starClusters did not converge within $maxIter rounds")
    // converged edge set is a star forest u→min; roots label themselves,
    // and nodes the contraction never saw (self-pair-only) are singletons
    val connected = edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("doc_id"),
        col("v").as("cluster")).distinct())
    val singletons = allNodes
      .join(connected.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("cluster", col("doc_id"))
    connected.unionByName(singletons).withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy("cluster")))
  }

  /** Benchmark decontamination: documents sharing at least one word
    * n-gram with any benchmark document, with the count of distinct
    * contaminated shingles. The benchmark shingle set is a distinct
    * union (small — benchmarks are curated sets), so the join
    * broadcast-prunes the corpus scan at scale.
    */
  /** The distinct shingle set of the docs matching `pred` — ONE
    * spelling shared by [[decontaminate]], [[decontaminateBloomPlan]]
    * and [[noveltyRatio]], so the x46/x62/x79 shared-oracle invariant
    * cannot drift copy-by-copy.
    */
  private def refShingleSet(docs: DataFrame, pred: Column, n: Int): DataFrame =
    shingled(docs.filter(pred), n)
      .select(explode(col("sh")).as("g")).distinct()

  def decontaminate(docs: DataFrame, isBenchmark: Column, n: Int = 3): DataFrame = {
    val benchShingles = refShingleSet(docs, isBenchmark, n)
    shingled(docs.filter(!isBenchmark), n)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(benchShingles), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated")) // shingles are distinct per doc
  }

  /** Per-document n-gram novelty against a reference corpus — the
    * coverage complement of [[decontaminate]] (and the aggregate the
    * "how much of this crawl is new?" incremental-ingest decision
    * reads): novelty = fraction of a document's DISTINCT n-grams
    * absent from the reference shingle set. Unlike decontaminate
    * (inner join — zero-hit docs drop out), every non-reference doc
    * with ≥ 1 shingle appears. `n_grams`/`n_seen` stay int64-exact
    * with ONE double division per doc. Same broadcast posture as
    * decontaminate (reference sets are curated, small); past
    * broadcast size the [[decontaminateBloom]] Bloom + sort-merge
    * shape applies unchanged.
    */
  def noveltyRatio(docs: DataFrame, isReference: Column, n: Int = 3): DataFrame = {
    val refShingles = refShingleSet(docs, isReference, n)
    shingled(docs.filter(!isReference), n)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(refShingles.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), // shingles are distinct per doc
        sum(coalesce(col("hit"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        ((col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** [[decontaminate]] for benchmark-shingle sets past broadcast size
    * (many benchmarks, GBs of shingles): a Bloom filter over the
    * benchmark shingles — compact at any set size — pre-filters corpus
    * shingles map-side, so the exact verification join (sort-merge, NOT
    * broadcast) shuffles only candidate volume instead of every shingle
    * of a 100 TB corpus. Bloom filters have no false negatives, so the
    * result is IDENTICAL to [[decontaminate]]; false positives (rate
    * `fpp`) only cost shuffled rows, and the exact join removes them.
    */
  def decontaminateBloom(docs: DataFrame, isBenchmark: Column, n: Int = 3,
                         fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    // persisted across the three consumers (cardinality count, bloom
    // build, exact verification join), which would otherwise each
    // recompute the full filter+shingle+explode+distinct pipeline; the
    // cache is released before returning — this operator is EAGER (the
    // bloom build forces two actions anyway), and the checkpointed
    // result it hands back is the bounded per-doc count table, not the
    // shingle set
    val (plan, benchShingles) = decontaminateBloomPlan(docs, isBenchmark, n, fpp)
    try plan.localCheckpoint(true) finally benchShingles.unpersist()
  }

  /** The lazy plan behind [[decontaminateBloom]] plus its persisted
    * benchmark-shingle cache (caller releases) — split out so the plan
    * shape stays assertable in tests.
    */
  private[graft] def decontaminateBloomPlan(
      docs: DataFrame, isBenchmark: Column, n: Int,
      fpp: Double): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val benchShingles = refShingleSet(docs, isBenchmark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sizing the filter from the true cardinality keeps fpp honest
    val items = math.max(1L, benchShingles.count())
    val bloom = benchShingles.stat.bloomFilter("g", items, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bc.value.mightContainString(g))
    (shingled(docs.filter(!isBenchmark), n)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .filter(mightContain(col("g")))
      .join(benchShingles.hint("merge"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated")),
      benchShingles)
  }

  /** 60-bit SimHash over whitespace tokens. Token value = first 15 hex
    * chars of md5 as a 60-bit int; fingerprint bit b is set iff
    * Σ_tokens (±1 by token-bit b) > 0. 60 bits (not 64) keeps the value
    * comfortably inside a signed int64 in both engines.
    */
  val SimhashBits = 60

  def simhash(docs: DataFrame): DataFrame = {
    val tok = explode(split(col("text"), " ")).as("tok")
    // fused digest→int60, = conv(substring(md5(tok), 1, 15), 16, 10)
    val v = element_at(
      graft.functions.Md5Longs(col("tok"), Seq((1, 15))), 1)
    val toks = docs.select(col("doc_id"), col("n_chars"), tok)
      .withColumn("v", v)
    // pack 3 per-bit one-counters of 21 bits into each aggregation
    // buffer: 20 packed sums + count(*) instead of 60 ±1 sums — same
    // fingerprint (sign of Σ±1 = 2·ones − cnt > 0 ⟺ 2·ones > cnt),
    // a third of the per-row aggregation-buffer updates. Field width
    // bounds the contract at 2^21 tokens per document (any real doc);
    // packed sums stay < 2^63 so int64 arithmetic is exact, fields
    // cannot carry into each other.
    val packed = (0 until SimhashBits / 3).map { j =>
      sum((0 until 3).map(m =>
        shiftleft(shiftright(col("v"), 3 * j + m).bitwiseAND(1L), 21 * m))
        .reduce(_ + _)).as(s"p$j")
    }
    val fp = (0 until SimhashBits).map { b =>
      val ones = shiftright(col(s"p${b / 3}"), 21 * (b % 3))
        .bitwiseAND((1L << 21) - 1)
      when(ones * 2 > col("cnt"), lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy("doc_id", "n_chars")
      .agg(packed.head, (packed.tail :+ count(lit(1)).as("cnt")): _*)
      // enforce the field-width contract loudly: past 2^21 tokens the
      // packed counters would carry into neighbor bits and silently
      // corrupt the fingerprint
      .withColumn("simhash",
        when(col("cnt") >= lit(1L << 21),
          raise_error(concat(lit("simhash: document exceeds 2^21 tokens, doc_id="),
            col("doc_id").cast("string"))).cast("long"))
        .otherwise(fp))
      .select("doc_id", "n_chars", "simhash")
  }

  /** SimHash near-dup pairs: hamming distance ≤ `maxDist` within a
    * length band.
    *
    * Candidate generation composes TWO complete equi-join keys:
    *
    *  - the ±1 length bucket (|ca − cb| ≤ band ⟹ bucket(cb) ∈
    *    {bucket(ca)−1, …, +1} — the [[AsOfJoin]] bucketing shape);
    *  - a PIGEONHOLE fingerprint block (Manku et al. 2007, "Detecting
    *    Near-Duplicates for Web Crawling"): the 60 fingerprint bits
    *    split into `maxDist + 1` near-equal blocks, and two
    *    fingerprints within hamming `maxDist` differ in at most
    *    `maxDist` blocks, so they must agree EXACTLY on at least one
    *    — joining on (block index, block value) is complete for the
    *    predicate.
    *
    * Both keys are complete, so their conjunction is too, and the
    * exact hamming/band filters make the output independent of the
    * blocking — the oracle is the naive banded product and must
    * hash-match. The composition is what survives 100 TB: length
    * banding alone degenerates to all-pairs when document lengths
    * concentrate (a CHUNKED corpus is the common case — every doc the
    * same length), while the bit blocks divide any bucket by ~2^{60/
    * (maxDist+1)} regardless of the length distribution
    * (StressProof's constant-length corpus measures exactly this
    * degenerate case). Tighter `maxDist` ⇒ wider blocks ⇒ sharper
    * pruning — the knob trades recall radius against candidate
    * volume, as in the paper.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int, band: Long = 50L): DataFrame =
    simhashCandidates(docs, maxDist, band)
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")

  /** [[simhashPairs]]'s candidate stage: distinct pairs surviving the
    * composed (fingerprint block, length bucket) equi-keys and the
    * exact band predicate, BEFORE the hamming test — `private[graft]`
    * so StressProof can measure candidate volume on the
    * degenerate-length corpus.
    */
  private[graft] def simhashCandidates(docs: DataFrame, maxDist: Int,
                                       band: Long): DataFrame = {
    require(maxDist >= 0 && maxDist < SimhashBits,
      s"maxDist must be in [0, $SimhashBits), got $maxDist")
    val nBlocks = maxDist + 1
    val base = SimhashBits / nBlocks
    val extra = SimhashBits % nBlocks
    val offsets = (0 until nBlocks).scanLeft(0)((off, i) =>
      off + base + (if (i < extra) 1 else 0))
    def blockCols(fp: Column) = array((0 until nBlocks).map { i =>
      val off = offsets(i)
      val w = offsets(i + 1) - off
      struct(lit(i).as("blk"),
        shiftright(fp, off).bitwiseAND((1L << w) - 1).as("bv"))
    }: _*)
    // the (block, length-bucket) join reads the fingerprint table on
    // both sides with different explodes — no exchange reuse, so the
    // whole tokenize→md5→packed-vote aggregation would run twice;
    // persist computes each doc's fingerprint once (O(docs) rows);
    // released by the caller — the CacheScope contract
    val s = simhash(docs).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = s.select(col("doc_id").as("doc_a"), col("n_chars").as("ca"),
      col("simhash").as("fa"))
      .withColumn("__b", (col("ca") / band).cast("long"))
      .select(col("doc_a"), col("ca"), col("fa"), col("__b"),
        explode(blockCols(col("fa"))).as("k"))
      .select(col("doc_a"), col("ca"), col("fa"), col("__b"),
        col("k.blk").as("blk"), col("k.bv").as("bv"))
    val b = s.select(col("doc_id").as("doc_b"), col("n_chars").as("cb"),
      col("simhash").as("fb"))
      .withColumn("__b0", (col("cb") / band).cast("long"))
      .select(col("doc_b"), col("cb"), col("fb"),
        explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)).as("__b"))
      .select(col("doc_b"), col("cb"), col("fb"), col("__b"),
        explode(blockCols(col("fb"))).as("k"))
      .select(col("doc_b"), col("cb"), col("fb"), col("__b"),
        col("k.blk").as("blk"), col("k.bv").as("bv"))
    a.join(b, Seq("blk", "bv", "__b"))
      .filter(col("doc_a") < col("doc_b") &&
        col("cb") >= col("ca") - band && col("cb") <= col("ca") + band)
      // a pair agreeing on several blocks matches several times —
      // dedup the PAIR before the (cheap) exact filter so the output
      // is one row per qualifying pair
      .select("doc_a", "doc_b", "fa", "fb").distinct()
  }

  /** Crawl novelty time-series (SURVEY §2.10 X32) — the "is this
    * crawl still adding content?" triage curve: documents arrive in
    * batches (`crawlOf`, e.g. a capture-date bucket), and each batch
    * is scored by the fraction of its DISTINCT word shingles seen for
    * the FIRST time in that batch. A decaying curve says the source is
    * exhausted; a flat one says keep crawling. Per-batch `novelty =
    * n_new / n_grams`, both int64-exact, one division per batch row.
    *
    * The trick that makes it one pass: a gram is "new in batch b" iff
    * `b = min(crawl)` over its occurrences — so ONE gram-keyed
    * aggregation computes every batch's novelty simultaneously, with
    * no batch-over-batch self-join and no accumulating reference set
    * (the naive spelling joins each crawl against the union of all
    * earlier crawls — O(batches) scans).
    *
    * Scale shape: one distinct over (crawl, gram) (partial-aggregated),
    * one gram-keyed min, one equi join-back, one per-crawl roll-up.
    * Output rows = batches.
    */
  def crawlNoveltySeries(docs: DataFrame, crawlOf: Column,
                         n: Int = 3): DataFrame = {
    val grams = docs.select(crawlOf.as("crawl"),
      explode(shingles(col("text"), n)).as("g"))
      .distinct()
    val firstSeen = grams.groupBy("g").agg(min("crawl").as("first_crawl"))
    grams.join(firstSeen, "g")
      .groupBy("crawl")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("crawl") === col("first_crawl"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("crawl"), col("n_grams"), col("n_new"),
        (col("n_new").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** Corpus snapshot diff (SURVEY §2.10 X25) — incremental-crawl
    * refresh triage: classify every document id across two corpus
    * snapshots as `added` (new only), `removed` (old only), `changed`
    * (both, content fingerprint differs), or `unchanged`. Downstream,
    * `added ∪ changed` is the reprocess set (dedup → filter → embed)
    * and `removed` the retraction set — the diff bounds incremental
    * pipeline work by churn instead of corpus size.
    *
    * Scale shape: each side reduces to `(id, md5)` at the scan (text
    * never crosses the exchange), then ONE full-outer equi-join on the
    * id — sort-merge on the id ranges both snapshots are already
    * laid out by. No window, no collect.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    // presence is tracked by explicit markers, NOT by fingerprint
    // nullness: md5(NULL text) is NULL, so a null-text row (legal in
    // a general snapshot frame — the diff makes no CorpusIO-style
    // all-fields promise about its inputs) would otherwise masquerade
    // as absent and misclassify — the oracle keys on id presence too
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("fp_old"),
      lit(true).as("in_old"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("fp_new"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") <=> col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Streaming exact dedup (SURVEY §2.10 X23) — first-occurrence keep
    * over an unbounded stream keyed by `key`, the crawl-pipeline shape
    * of X1: the state store remembers every key ever admitted; a
    * batch's group emits its row of MINIMUM `ord` iff the key is new,
    * else nothing. Compared to `dropDuplicates` (whose within-batch
    * survivor is partition-order-dependent), the explicit min makes
    * the output DETERMINISTIC: when the stream arrives ord-ascending,
    * the kept row is exactly the batch oracle's `min(id) GROUP BY fp`
    * — the q31 trick of proving stream ≡ batch by sharing one oracle.
    * The WHOLE row is kept, so a streaming corpus pipeline passes full
    * documents through the gate instead of joining kept ids back
    * against a replay of the source
    * ([[graft.sources.CorpusIO.streamCurated]] composes it this way);
    * a `(fingerprint, id)` stream is
    * `streamingFirstOccurrenceBy(ds)(_._1, _._2)`.
    *
    * Scale shape: one keyed-state exchange on the key; state is one
    * boolean per distinct key (RocksDB-backed at real cardinality);
    * output volume = distinct keys, not input rows. No watermark:
    * dedup state is intentionally forever (a duplicate a year later is
    * still a duplicate) — callers who want bounded state compose
    * [[decontaminateBloom]]-style sketches upstream instead.
    */
  def streamingFirstOccurrenceBy[T](ds: org.apache.spark.sql.Dataset[T])(
      key: T => String, ord: T => Long,
      bypass: T => Boolean = (_: T) => false)(
      implicit enc: org.apache.spark.sql.Encoder[T])
    : org.apache.spark.sql.Dataset[T] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // `bypass` rows ride the SAME keyed-state exchange (the pipe is one
    // linear streaming plan — a second branch over the source would
    // re-scan every input file) but are emitted verbatim WITHOUT
    // reading or writing state: the corpus pipe routes quarantine rows
    // through here to reach the sink in one input pass, and a boolean
    // state row per quarantine line would otherwise accumulate forever.
    // Caller contract: bypass rows' keys must be DISJOINT from real
    // keys (the pipe uses a "q|" prefix that a 32-hex md5 key can never
    // produce), so no group ever mixes the two kinds. The existing
    // state layout (key → true) is untouched — old checkpoints resume.
    ds.groupByKey(key)
      .flatMapGroupsWithState[Boolean, T](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[T], state: GroupState[Boolean]) =>
          // buffered head-peek, NOT toSeq: a batch with N copies of a
          // viral page (one md5 group) must fold through minBy with
          // O(1) memory, never buffer N full documents on one task
          val it = rows.buffered
          if (bypass(it.head)) it
          else if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(it.minBy(ord))
          }
      }
  }

  /** JVM-side distinct word shingles — literally
    * [[graft.functions.WordShingles]].compute, so the streaming gate's
    * per-row tokenization can never drift from the batch pipeline's
    * (and the DuckDB oracle's `string_split`) spelling.
    */
  private def shingleSetLocal(text: String, n: Int): Array[String] = {
    val ad = graft.functions.WordShingles(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.StringType), n)
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
    Array.tabulate(ad.numElements())(i => ad.getUTF8String(i).toString)
  }

  /** The two 56-bit halves of md5(s) — the JVM spelling of
    * `Md5Longs(col, Seq((1,14),(17,14)))` (hex chars 1–14 and 17–30,
    * 1-indexed = digest bytes 0–6 and 8–14 big-endian), the
    * double-hashing basis [[withMinhashSignature]] builds every
    * MinHash function from. Reads the digest bytes directly — this
    * runs once per (doc, shingle) on the gate's hot path, and going
    * through hex encode + parse would double the per-shingle work
    * (the same reasoning as the native Md5Longs expression). Bit
    * parity with the expression/oracle spelling is pinned by the
    * band-key spec.
    */
  private[graft] def md5Halves(s: String): (Long, Long) = {
    val md = Md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def long7(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
      v
    }
    (long7(0), long7(8))
  }

  /** Per-document gate inputs, computed row-side (no shuffle): the
    * sorted distinct 56-bit shingle hashes (the Jaccard verify set —
    * one long per shingle instead of the ~20-byte string, the state
    * the gate can afford to keep; a 2^-56 hash collision folding two
    * shingles is the documented trade) and the LSH band bucket keys
    * `"<band>|<md5(h_jr|…)>"`, built EXACTLY as
    * [[withMinhashSignature]] + [[lshCandidatePairs]] build them —
    * same md5 halves, same `g1 + i·g2` double hashing, same
    * `md5(concat_ws("|", …))` band signature — so the gate's candidate
    * universe is bit-identical to the batch pipeline's.
    */
  private[graft] def localShinglesAndBands(text: String, k: Int, r: Int)
    : (Array[Long], Array[String]) = {
    val sh = shingleSetLocal(text, 3)
    if (sh.isEmpty) (Array.emptyLongArray, Array.empty[String])
    else {
      val halves = sh.map(md5Halves)
      val hashes = halves.map(_._1).distinct.sorted
      val sig = Array.tabulate(k) { i =>
        var m = Long.MaxValue
        halves.foreach { case (g1, g2) =>
          val h = g1 + i.toLong * g2
          if (h < m) m = h
        }
        m
      }
      val bands = Array.tabulate(k / r)(j =>
        j.toString + "|" +
          md5Hex((0 until r).map(o => sig(j * r + o)).mkString("|")))
      (hashes, bands)
    }
  }

  /** Jaccard of two sorted distinct long arrays (merge intersect).
    * Empty ∪ empty is defined as 0.0, not 0/0 = NaN: the gates only
    * feed non-empty sets (shingle-less docs never enter state), but a
    * NaN here would silently evaluate `>= threshold` as false for any
    * future caller comparing two shingle-less docs — make the helper
    * safe standalone instead of only under its callers' guards.
    */
  private[graft] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Streaming near-duplicate admission gate (X33) — the rolling-crawl
    * sibling of [[minhashNearDups]]: admit a document iff no
    * PREVIOUSLY SEEN document is a verified near-duplicate of it. A
    * crawl wants near-dup rejection at the gate, not in nightly batch;
    * this was the last batch/stream asymmetry in the pipeline block.
    * The gate is [[streamingNearDupVerdictsTagged]] filtered to
    * `admitted` — one state machine, two views, so they cannot drift.
    *
    * Semantics (exactly the batch construction, applied online): doc f
    * is REJECTED iff some earlier doc e (smaller `ord`; earlier batch
    * or earlier in this batch) shares an LSH band bucket with f — the
    * [[lshCandidatePairs]] candidate rule — AND exact Jaccard(e, f) ≥
    * `threshold` — the [[verifyJaccard]] rule (computed on the 56-bit
    * shingle hash sets). The comparison set is ALL seen docs, not just
    * admitted ones: a doc rejected via near-dup of an admitted one
    * still rejects ITS later near-dups, which reproduces the batch
    * clusterer's transitive-closure behavior for chains that arrive in
    * id order. With id-ordered arrival the kept set has a closed
    * batch form — `docs ∖ {f : ∃ e<f, (e,f) ∈ verified LSH pairs}` —
    * which is the x108 DuckDB oracle (and equals
    * `nearDupClusters`-min-representatives whenever every cluster
    * member has a direct verified edge to an earlier member, e.g.
    * mutated-copy near-dup groups).
    *
    * `horizonMicros` is the eviction policy. `None` keeps state
    * forever. `Some(h)` is the state answer for an INFINITE crawl:
    * only priors with `ord(f) − ord(e) ≤ h` count, so an identical
    * re-crawl arriving after the horizon is ADMITTED again
    * (re-admission is the semantic point, not a leak — spec-pinned,
    * and with a horizon wider than the corpus the verdicts equal
    * `None`'s). Under a horizon `ord` must be event-time MICROSECONDS
    * and arrival must be ord-ordered across batches (the crawl
    * contract every other streaming op here assumes); see
    * [[BandOrdsProcessor]] and [[DocShinglesProcessor]] for how state
    * is bounded without ever changing a verdict.
    *
    * Shingle-less docs (fewer words than the shingle width) have no
    * signature on either side of the batch pipeline and pass through
    * ungated — including EXACT duplicates of each other; compose
    * [[streamingFirstOccurrenceBy]] upstream if tiny-doc exact dedup
    * matters.
    *
    * Shape: three chained append-mode keyed-state ops, laid out so
    * each doc's shingle set is STORED EXACTLY ONCE (a per-band-bucket
    * copy would cost k/r = 4× — at crawl cardinality the difference
    * between a RocksDB instance that fits and one that doesn't):
    *  1. keyed on band bucket ([[BandOrdsProcessor]]) — state holds
    *     only the ORDS of seen docs in the bucket (8 B per doc per
    *     band, ~32 B/doc total) in a ListState, so absorbing a batch
    *     appends O(new) ords; in-batch rows are processed in `ord`
    *     order against state ∪ earlier in-batch rows, emitting one
    *     CANDIDATE-PAIR probe row `(prior_ord, ord, shingles)` per
    *     (prior, new) bucket cohabitation, plus — from the band-0
    *     bucket only (every shingled doc has one; shingle-less docs'
    *     per-doc `e\|` key stands in) — exactly one SELF row per doc,
    *     the ONLY row that carries the doc payload;
    *  2. keyed on `ord` ([[DocShinglesProcessor]]) — the doc-keyed
    *     shingle store: a doc's SELF row stores its shingle set once
    *     (ValueState `sh`) and passes the payload through; a probe row
    *     `(e, f, sh_f)` arriving at group `e` verifies exact
    *     Jaccard(state(e), sh_f) and emits a payload-free reject vote
    *     for `f` on a hit. A doc's shingles are in state (earlier
    *     batch) or on its self row (this batch) — never absent,
    *     because band state only ever holds shingled docs' ords,
    *     written in the same batch their shingles reach this store;
    *  3. keyed on `ord` ([[reduceByOrdTagged]]) — the STATELESS
    *     per-batch reduce: admitted iff no vote, exactly one payload
    *     row out. Sound because a doc's probes/votes are all produced
    *     within its own micro-batch (band rows never cross batches).
    * Per batch: one exchange on bucket + two on ord; output rows =
    * admitted docs. No batch-over-batch joins, no driver-side data.
    * The payload rides EXACTLY ONE row through every exchange (band
    * fan-out, probes and votes are payload-free): a doc colliding with
    * n priors ships its shingles n times but its text ONCE, so a
    * boilerplate-band heavy hitter costs O(pairs · shingles), not
    * O(pairs · document) — StressProof measures the shuffle bytes at
    * stress cardinality. A pair cohabiting in several bands emits one
    * probe per shared band — at most k/r duplicates, each re-verified
    * cheaply in op 2 (deduplicating them would need an extra
    * (prior, new)-keyed exchange, a worse trade than ≤ k/r spare
    * Jaccards on ~40-long arrays). Heavy-hitter buckets still
    * concentrate probe fan-out the same way they concentrate
    * [[lshCandidatePairs]]'s bucket join — `hotBucketCap` bounds it.
    *
    * Under a horizon the band rows carry an event-time column `_5`
    * (the ord lifted by [[TtlOrdLiftMicros]]) with a 1 ms watermark,
    * which drives the eviction timers of both stateful ops and rides
    * INTO op 2 through `transformWithState`'s event-time-column output
    * contract (op 1 re-stamps each output row with its new doc's
    * lifted ord, always ≥ the late-events watermark that row just
    * passed). Delay 1 ms, not 0: the watermark is ms-floored, so under
    * a 0 delay a doc whose lifted ord lands EXACTLY on the previous
    * batch's watermark would be dropped as late and VANISH. The chain
    * starts under Spark's DEFAULT static correctness checker, no
    * opt-out (a spec pins it). Without a horizon there is no watermark
    * and no timer; `_5` is null and `ord` may be any Long.
    *
    * Late arrivals (horizon only): a band row whose lifted ord falls at
    * or below the watermark is dropped by Spark BEFORE the verify op —
    * the doc silently vanishes from the output, the ordered-arrival
    * contract's failure mode. Operators see the volume instead of
    * inferring it: the drop count rides each progress event's
    * `stateOperators.numRowsDroppedByWatermark`, surfaced as
    * `CorpusIngestStats.nLateDroppedRows` (spec-reconciled with a
    * planted late doc).
    *
    * Checkpoint compatibility: both stateful ops before the reduce are
    * `transformWithState` under either policy. A checkpoint written
    * while the unbounded chain's doc store was a
    * flatMapGroupsWithState op does not resume into this chain — Spark
    * refuses the operator mismatch loudly; drain and restart with a
    * fresh checkpoint, or replay the crawl window.
    * Requires the RocksDB state-store provider
    * ([[useRocksDbStateStore]], checked at construction) —
    * transformWithState supports no other, and it is the only
    * provider that fits at crawl cardinality regardless (SCALE §8d).
    */
  def streamingNearDupGate[T](ds: org.apache.spark.sql.Dataset[T],
                              threshold: Double, k: Int = 12, r: Int = 3,
                              hotBucketCap: Int = Int.MaxValue,
                              horizonMicros: Option[Long] = None)(
      text: T => String, ord: T => Long)(
      implicit enc: org.apache.spark.sql.Encoder[T])
    : org.apache.spark.sql.Dataset[T] =
    streamingNearDupVerdictsTagged(ds, threshold, k, r, hotBucketCap,
        horizonMicros)(text, ord)
      .filter((v: (Long, String, Option[Long], T)) => v._2 == ReasonAdmitted)
      .map((v: (Long, String, Option[Long], T)) => v._4)(enc)

  /** The audit reason labels — one definition so the gate verdicts,
    * the fixtures and the specs cannot drift on spelling. A doc's
    * reason is `near_dup` when some prior verified against it at
    * exact Jaccard ≥ threshold in a band bucket it entered (`of_ord`
    * = the SMALLEST such prior — deterministic, and the batch-closed
    * composition the oracle states), `hot_bucket` when its only
    * rejections were the circuit breaker's auto-rejects (no verified
    * prior; `of_ord` is empty — naming one bucket member would be
    * arbitrary), and `admitted` otherwise. A doc can hit both (frozen
    * in one bucket, verified in another it entered): the VERIFIED
    * reason wins — it names an actual near-duplicate, which is what
    * an audit reader acts on.
    */
  val ReasonAdmitted = "admitted"
  val ReasonNearDup = "near_dup"
  val ReasonHotBucket = "hot_bucket"

  /** Reason-tagged audit view of [[streamingNearDupGate]]: every doc
    * flows out as `(ord, reason, of_ord, doc)` — the x97 batch
    * drop-reason discipline on the streaming gate — instead of
    * rejected docs vanishing. A crawl operator asking "why did intake
    * drop N % this hour" needs `near_dup(of_ord)` vs `hot_bucket`
    * (boilerplate storm) spelled out per doc (see the reason-label
    * contract above). Under a horizon a near-dup of something BEYOND
    * it is `admitted` (the re-admission contract). Exactly one output
    * row per input doc.
    *
    * `hotBucketCap` is the heavy-hitter circuit breaker (FAISS's
    * max-list-length, applied to LSH band buckets): probe emission
    * per arrival is O(bucket) — inherent to bucket cohabitation — so
    * one boilerplate band bucket concentrates unbounded per-arrival
    * work. With a cap, a doc landing in a band bucket already holding
    * ≥ cap live ords (every ord without a horizon; the ords within
    * the horizon of the doc's own ord under one) is auto-REJECTED
    * (a bucket that large is boilerplate by construction) without
    * probing, and is not appended — the bucket freezes, and under a
    * horizon un-freezes as entries age out. The rejection is an
    * ordinary `hot_bucket` verdict. The default cap = MaxValue is
    * bit-identical to the uncapped gate (x108/x109/x110's
    * configuration); StressProof plants a megabucket and measures the
    * tail-batch row emission dropping from O(bucket) to O(cap).
    * Honest residual: a capped doc's SELF row still stores its
    * shingles in the doc store (the payload path and the store share
    * the row, and band buckets freeze independently — op 2 cannot
    * know whether every bucket capped), so a boilerplate storm still
    * grows the doc store O(storm docs) at ~336 B each; the breaker
    * bounds the band lists and the per-arrival probe work, which are
    * the terms that scale with bucket × arrival, not doc count.
    *
    * Oracles: both reject reasons have closed batch forms without a
    * horizon (the smaller-id verified pair rule and the
    * row_number-per-band-signature freeze rule), and so does the
    * uncapped horizon gate (x129's rule with the min-prior projection
    * — x162). With the breaker ARMED under a horizon, bucket
    * membership becomes a sequential recurrence (a capped doc is not
    * appended, and entries age out) that plain SQL does not express;
    * those runs are spec-verified (eviction-independent under three
    * lag schedules), EXCEPT at a horizon wider than the corpus span,
    * where the recurrence collapses to the unbounded armed rule (x165,
    * hash-equal to x161's closed form).
    *
    * Shingle-less docs (under one k-shingle of words) flow through as
    * `admitted` with ZERO state rows, ZERO probes and no timer: no
    * band rows ⇒ no bucket entry, no shingle-store entry. The audited
    * corpus pipe leans on exactly this — its quality-door drops ride
    * the gate as PASSENGERS with their text emptied
    * ([[graft.sources.CorpusIO]] `qualityAudited`), so a dropped doc
    * influences no dedup decision and costs one stateless row through
    * the chain (spec-pinned under both policies).
    */
  def streamingNearDupVerdictsTagged[T](
      ds: org.apache.spark.sql.Dataset[T],
      threshold: Double, k: Int = 12, r: Int = 3,
      hotBucketCap: Int = Int.MaxValue,
      horizonMicros: Option[Long] = None)(
      text: T => String, ord: T => Long)(
      implicit enc: org.apache.spark.sql.Encoder[T])
    : org.apache.spark.sql.Dataset[(Long, String, Option[Long], T)] = {
    require(r > 0 && k % r == 0,
      s"band width $r must divide signature size $k (else hashes are silently dropped)")
    require(hotBucketCap > 0,
      s"hotBucketCap must be positive, got $hotBucketCap")
    horizonMicros.foreach(h =>
      require(h > 0, s"horizonMicros must be positive, got $h"))
    // fail at construction, not deep inside a micro-batch
    require(ds.sparkSession.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "")
      .contains("RocksDB"),
      "streamingNearDupGate/VerdictsTagged needs the RocksDB state-store " +
        "provider: call Dedup.useRocksDbStateStore(session) before " +
        "building the stream (transformWithState supports no other)")
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import ds.sparkSession.implicits.newLongArrayEncoder
    val shEnc: Encoder[Array[Long]] = implicitly
    val optEnc: Encoder[Option[T]] = optionEncoderOf(enc)
    val bandEnc: Encoder[BandRow[T]] = Encoders.tuple(Encoders.STRING,
      Encoders.scalaLong, shEnc, optEnc, Encoders.TIMESTAMP)
    val probeEnc: Encoder[ProbeRow[T]] = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, shEnc, optEnc, Encoders.TIMESTAMP)
    val voteEnc: Encoder[Vote[T]] = Encoders.tuple(Encoders.scalaLong,
      optionEncoderOf(Encoders.scalaLong), Encoders.scalaBoolean, optEnc)
    val outEnc: Encoder[(Long, String, Option[Long], T)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        optionEncoderOf(Encoders.scalaLong), enc)
    val bandRows = bandRowsOf(ds, k, r)(text, ord)(bandEnc)
    val band = new BandOrdsProcessor[T](horizonMicros, hotBucketCap)
    // op 1; under a horizon the watermarked `_5` declaration is what
    // re-watermarks op 1's output for op 2's timers
    val candidates = horizonMicros match {
      case None =>
        bandRows.groupByKey(_._1)(Encoders.STRING)
          .transformWithState(band, TimeMode.None(),
            OutputMode.Append())(probeEnc)
      case Some(_) =>
        bandRows.toDF()
          .withColumn("_5", timestamp_micros(col("_2") + TtlOrdLiftMicros))
          .withWatermark("_5", "1 millisecond")
          .as[BandRow[T]](bandEnc)
          .groupByKey(_._1)(Encoders.STRING)
          .transformWithState(band, "_5", OutputMode.Append())(probeEnc)
    }
    val verdicts = candidates.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(
        new DocShinglesProcessor[T](threshold, horizonMicros, shEnc),
        if (horizonMicros.isDefined) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Append())(voteEnc)
    reduceByOrdTagged(verdicts)(outEnc)
  }

  /** The gate's row layouts. A band row is `(bucket, ord, shingles,
    * payload, event time)`; a probe row is `(group ord, doc ord,
    * shingles, payload, event time)`; a vote is `(doc ord, verified
    * prior, hot-bucket flag, payload)`. The payload slot is Some on
    * exactly one row per doc. The event-time slot is null without a
    * horizon.
    */
  private type BandRow[T] =
    (String, Long, Array[Long], Option[T], java.sql.Timestamp)
  private type ProbeRow[T] =
    (Long, Long, Array[Long], Option[T], java.sql.Timestamp)
  private type Vote[T] = (Long, Option[Long], Boolean, Option[T])

  /** Configure `session` for the streaming gates' required state
    * store: the RocksDB provider (the band op is transformWithState,
    * which supports no other — and it is the only provider that fits
    * at crawl cardinality regardless, SCALE §8d). One definition so
    * the provider FQCN cannot drift across fixtures and specs; the
    * gate constructors check the conf and point here. Returns the
    * session for chaining.
    */
  def useRocksDbStateStore(
      session: org.apache.spark.sql.SparkSession)
    : org.apache.spark.sql.SparkSession = {
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    // changelog checkpointing: commit writes the batch's delta to the
    // checkpoint instead of zipping and uploading a full RocksDB
    // snapshot per store instance per batch — measured on the x129
    // fixture (4 partitions × 3 stateful ops), snapshot save + fsync
    // was ~3.6 s of every batch's commit path; with changelog the
    // per-batch upload is O(rows updated) and snapshots move to the
    // background maintenance thread. Recovery replays the changelog
    // over the last snapshot (same replay contract the specs pin);
    // this is also the 100 TB posture — full-state upload per batch
    // cannot scale, changelog size tracks the batch, not the state.
    session.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
    session
  }

  /** Loud guard on the gate's documented ord-uniqueness contract: two
    * DISTINCT docs sharing an ord would merge into one row in
    * [[reduceByOrdTagged]] — silent data loss plus a verdict
    * contaminated by the lost doc's band votes. Checked per band
    * bucket per batch (the realistic collision — the same fetch batch
    * stamping one ms on two docs — shares buckets via
    * identical/near-identical content, and shingle-less ties share the
    * per-doc `e\|ord` key); ties whose docs share NO bucket are the one
    * undetectable residual, documented on [[reduceByOrdTagged]].
    */
  private def assertUniqueOrds(sortedOrds: Seq[Long]): Unit = {
    var i = 1
    while (i < sortedOrds.length) {
      if (sortedOrds(i) == sortedOrds(i - 1))
        throw new IllegalStateException(
          s"duplicate ord ${sortedOrds(i)} in one band bucket — ord must " +
            "uniquely identify a document (the per-doc reduce keys on it; " +
            "two docs at one event-time µs would silently merge)")
      i += 1
    }
  }

  /** Op 1 of [[streamingNearDupVerdictsTagged]]: the band bucket's
    * seen-ord set as a ListState. Emission rules: one payload-free
    * probe per (live prior, new) cohabitation, one payload-carrying
    * self row `(o, o, sh, Some(doc))` per doc from its band-0 / `e\|`
    * bucket. Replay-safe like any stateful op: state is versioned per
    * batch, so a replayed batch re-appends onto the pre-batch snapshot.
    *
    * `cap` is the heavy-hitter circuit breaker: a shingled doc whose
    * bucket holds ≥ cap live ords emits ONE sentinel row
    * `(o, o, [], None)` instead of O(bucket) probes and is not
    * appended. A sentinel is the one row with `group == ord`, no
    * payload and no shingles: a self row always carries Some, and a
    * probe always carries its shingled doc's set (even a probe of an
    * ord tied with a prior), so the encoding holds for any Long ord.
    * The doc store turns the sentinel into a `hot_bucket` vote.
    *
    * Without a horizon every prior is live, and a batch APPENDS its
    * new ords (O(new) state write, never a bucket rewrite — StressProof
    * plants a hot bucket and measures the per-batch state-write rows
    * staying ∝ new ords); the list keeps arrival order.
    *
    * Under a horizon `h` the live priors of a doc `o` are those with
    * `o − e ≤ h` — the one verdict-bearing predicate, evaluated on
    * ords at probe time, so verdicts NEVER depend on eviction timing.
    * The retained list is kept ASCENDING (ords arrive ordered; the
    * rare ms-gap reordered admission is inserted in place and the list
    * rewritten), so the live slice is a suffix and one binary search
    * yields it — O(log bucket + live) per doc, never a scan of the
    * retained bucket, which is exactly the boilerplate-storm workload
    * the breaker exists for. The cap compares that HORIZON-LIVE
    * occupancy (retained beyond-horizon entries awaiting eviction do
    * not count), so the armed verdict is eviction-independent too.
    * Eviction, in two paths:
    *  - per-touch: entries whose [[ttlExpiryMs]] has passed the
    *    current watermark — the SAME inequality the timer path evicts
    *    on, so a pruned entry is provably beyond the horizon of every
    *    row that can still pass the late filter (a newest-ord cutoff
    *    would not be: Spark admits slightly-reordered rows above the
    *    previous batch's watermark, and a doc in that ms-wide gap could
    *    still match a newest-pruned entry). ListState has no partial
    *    delete, so the bucket is REWRITTEN only when prunable entries
    *    are at least half of it (amortized O(1) writes per ord), else
    *    the batch appends O(new);
    *  - timer: one pending event-time timer per bucket, armed LAZILY —
    *    registered only when none is pending (re-arming per touch was
    *    pure RocksDB churn on hot buckets). An early pending timer is
    *    just as correct: on fire, entries whose expiry has passed the
    *    watermark are dropped — the whole bucket in the idle case —
    *    and the timer re-arms at the survivors' real expiry.
    */
  private final class BandOrdsProcessor[T](horizonMicros: Option[Long],
                                           cap: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, BandRow[T], ProbeRow[T]] {
    @transient private var ords: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
      : Unit = {
      ords = getHandle.getListState[Long]("ords",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        bucket: String,
        rows: Iterator[BandRow[T]],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[ProbeRow[T]] = {
      val sorted = rows.toSeq.sortBy(_._2)
      assertUniqueOrds(sorted.map(_._2))
      val emitSelf = bucket.startsWith("0|") || bucket.startsWith("e|")
      val prior = scala.collection.mutable.ArrayBuffer.empty[Long]
      prior ++= ords.get()
      val preExisting = prior.length
      var reordered = false
      val out = scala.collection.mutable.ArrayBuffer.empty[ProbeRow[T]]
      sorted.foreach { case (_, o, sh, docOpt, ts) =>
        if (sh.nonEmpty) {
          val from = horizonMicros.fold(0)(h => lowerBound(prior, o - h))
          if (prior.length - from >= cap)
            out += ((o, o, Array.emptyLongArray, None, ts))
          else {
            var i = from
            while (i < prior.length) {
              out += ((prior(i), o, sh, None, ts)); i += 1
            }
            if (horizonMicros.isDefined && prior.nonEmpty && o < prior.last) {
              // an ms-gap reordered admission (above the previous
              // batch's watermark, below an already-seen ord): insert
              // in place so the ascending invariant holds
              prior.insert(lowerBound(prior, o), o)
              reordered = true
            } else prior += o
          }
        }
        if (emitSelf) {
          if (docOpt.isEmpty) throw new IllegalStateException(
            s"band-0 row for ord $o arrived without its payload — " +
              "bandRowsOf's payload rule and the self-row rule " +
              "have drifted")
          out += ((o, o, sh, docOpt, ts))
        }
      }
      // the new ords go in as ONE appendList: per-element appendValue
      // pays a RocksDB read of the whole merged list for each ord (the
      // state store's row tracking), quadratic on a hot bucket
      if (prior.length > preExisting) horizonMicros match { // some shingled doc arrived
        case None => ords.appendList(prior.drop(preExisting).toArray)
        case Some(h) =>
          val wm = timerValues.getCurrentWatermarkInMs()
          val live = prior.filter(e => ttlExpiryMs(e, h) > wm)
          // a reordered insert changed the list's interior: appending
          // would persist the new ord at the END and break the
          // ascending invariant the binary search needs on the next read
          if (reordered || (prior.length - live.length) * 2 >= prior.length)
            ords.put(live.toArray)
          else ords.appendList(prior.drop(preExisting).toArray)
          if (!getHandle.listTimers().hasNext)
            getHandle.registerTimer(ttlTimerMs(prior.last, h, wm))
      }
      out.iterator
    }
    override def handleExpiredTimer(
        bucket: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[ProbeRow[T]] = {
      horizonMicros.foreach { h =>
        val wm = timerValues.getCurrentWatermarkInMs()
        val live = ords.get().filter(e => ttlExpiryMs(e, h) > wm).toArray
        if (live.isEmpty) ords.clear()
        else {
          // a clamped timer can fire before the bucket's true expiry —
          // keep the still-live entries and re-arm at the real one
          ords.put(live)
          getHandle.registerTimer(ttlTimerMs(live.last, h, wm))
        }
      }
      Iterator.empty
    }
  }

  /** Band-row fan-out of the streaming gate: one row per (doc, band);
    * shingle-less docs get a per-doc key so they flow through (no band
    * ⇒ no candidates ⇒ admitted) WITHOUT creating state.
    *
    * The doc payload rides EXACTLY ONE of a doc's rows — the band-0
    * row (every shingled doc has one; a shingle-less doc's single
    * `e\|` row stands in) — and the other k/r − 1 rows ship None:
    * the verify ops only ever need the payload once (to emit it on
    * the self/verdict path), so fanning a copy per band was pure
    * shuffle weight. Safe against partial arrival: all of a doc's band
    * rows carry the same ord, so a watermark drops all of them or
    * none. The event-time slot is left null; a horizon fills it.
    */
  private def bandRowsOf[T](ds: org.apache.spark.sql.Dataset[T],
                            k: Int, r: Int)(
      text: T => String, ord: T => Long)(
      implicit bandEnc: org.apache.spark.sql.Encoder[BandRow[T]])
    : org.apache.spark.sql.Dataset[BandRow[T]] =
    ds.flatMap { d =>
      val (hashes, bands) = localShinglesAndBands(text(d), k, r)
      val o = ord(d)
      if (bands.isEmpty) Seq[BandRow[T]](("e|" + o, o, hashes, Option(d), null))
      else bands.toSeq.map(b => (b, o, hashes,
        if (b.startsWith("0|")) Option(d) else None, null: java.sql.Timestamp))
    }(bandEnc)

  /** Encoder[Option[T]] derived from the caller's Encoder[T] — the
    * gate's payload-on-one-row layout needs an optional payload slot,
    * and Spark's public implicits cannot compose Option around an
    * abstract T, so this reaches one level into Catalyst: every
    * session-derived encoder is an ExpressionEncoder wrapping an
    * AgnosticEncoder, and OptionEncoder is the agnostic composition
    * Spark itself uses for Option fields.
    */
  private def optionEncoderOf[T](
      enc: org.apache.spark.sql.Encoder[T])
    : org.apache.spark.sql.Encoder[Option[T]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.OptionEncoder(
        org.apache.spark.sql.catalyst.encoders.AgnosticEncoders
          .agnosticEncoderFor(enc)))

  /** Final reduce of the streaming gate: keyed on `ord`, a STATELESS
    * per-batch fold (state is never written) — a doc is admitted iff
    * no bucket voted reject, exactly one payload row emitted,
    * reason-tagged per the label contract on [[ReasonAdmitted]]. Sound
    * because every band row of a doc is produced within its own
    * micro-batch. Relies on the documented ord-uniqueness contract:
    * the band op throws loudly on a within-bucket ord tie
    * ([[assertUniqueOrds]]), and the doc store additionally detects
    * cross-bucket ties — same-batch (two self rows on one ord) and
    * cross-batch (an ord re-arriving with a different shingle set;
    * under a horizon only within it — beyond it the first doc's store
    * entry is evicted, and a beyond-horizon tie collides with
    * nothing). The residuals, all harmless: a cross-batch tie between
    * docs with IDENTICAL shingle sets flows through (the re-arrival
    * probes its own stored set and reads `near_dup` of itself), and a
    * cross-batch tie involving a SHINGLE-LESS doc flows through (no
    * state on either side; the rows sit in different batches, so this
    * per-batch reduce never merges them).
    */
  private def reduceByOrdTagged[T](
      verdicts: org.apache.spark.sql.Dataset[Vote[T]])(
      implicit outEnc: org.apache.spark.sql.Encoder[(Long, String, Option[Long], T)])
    : org.apache.spark.sql.Dataset[(Long, String, Option[Long], T)] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    verdicts.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[Boolean, (Long, String, Option[Long], T)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (o: Long, rows: Iterator[Vote[T]], _: GroupState[Boolean]) =>
          val rs = rows.toSeq
          // the payload arrives on exactly one row per doc (the
          // self/band-0 path); votes ship None — a missing payload
          // means the one-payload-row construction drifted
          val payload = rs.collectFirst { case (_, _, _, Some(d)) => d }
            .getOrElse(throw new IllegalStateException(
              s"ord $o produced verdict rows but no payload row — " +
                "every doc must emit exactly one payload-bearing row"))
          // the reason-label contract (see the constants' doc): a
          // verified near-dup vote beats the breaker's auto-reject,
          // of_ord = the smallest verified prior
          val nearDups = rs.flatMap(_._2)
          val reason =
            if (nearDups.nonEmpty) ReasonNearDup
            else if (rs.exists(_._3)) ReasonHotBucket
            else ReasonAdmitted
          Iterator.single((o, reason,
            if (nearDups.nonEmpty) Some(nearDups.min) else None, payload))
      }(Encoders.scalaBoolean, outEnc)
  }

  /** The horizon's uniform ord → event-time lift (µs): ord 0 would sit
    * exactly on the INITIAL watermark (epoch 0) and be dropped as
    * late; a constant shift preserves every gap. One definition — the
    * event-time column and both processors' expiry math derive from
    * it.
    */
  private val TtlOrdLiftMicros = 1000000L

  /** Conservative ms-ceiling expiry of an ord under horizon `h`:
    * strictly greater than the µs instant `ord + lift + h`, so state
    * evicted at a fired timer (watermark ≥ expiry) satisfies
    * `watermarkMs · 1000 > ord + lift + h` — and any row still able to
    * pass the late filter (`eventTime > watermarkMs`, watermarks
    * monotone) has `ord' + lift > watermarkMs · 1000`, hence
    * `ord' − ord > h`: beyond the horizon of everything evicted, so
    * eviction can never change a verdict.
    */
  private def ttlExpiryMs(ordMicros: Long, horizonMicros: Long): Long =
    (ordMicros + TtlOrdLiftMicros + horizonMicros) / 1000L + 1L

  /** Timer instant for an ord's expiry, clamped to watermark + 1:
    * Spark admits rows between its late-events watermark and its
    * eviction watermark, so an unclamped expiry can land at or behind
    * the clock.
    */
  private def ttlTimerMs(ordMicros: Long, horizonMicros: Long,
                         watermarkMs: Long): Long =
    math.max(ttlExpiryMs(ordMicros, horizonMicros), watermarkMs + 1L)

  /** First index in ascending `xs` whose value is ≥ `cut` (`xs.length`
    * when none) — locates the horizon-live suffix of a band bucket's
    * retained ord list in O(log bucket).
    */
  private def lowerBound(xs: scala.collection.mutable.ArrayBuffer[Long],
                         cut: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < cut) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Op 2 of [[streamingNearDupVerdictsTagged]]: the doc-keyed shingle
    * store — each shingle set stored EXACTLY ONCE, in the ValueState
    * `sh`. A self row stores the set and passes the payload through;
    * a probe verifies exact Jaccard against the stored set (or the
    * self row's, same batch) and emits a reject vote on a hit; a
    * sentinel (`group == ord` without payload or shingles) is the
    * band op's pre-verified hot-bucket reject.
    *
    * An existing entry met by a self row is EITHER a batch replay
    * (state is the pre-batch snapshot on replay, so the same doc's
    * write re-arrives — the arrays match and the write is skipped
    * idempotently) OR a CROSS-BATCH ord tie between two distinct docs
    * — the arrays differ, and admitting the second doc under the
    * first's shingles would corrupt every later verdict on this ord,
    * so it fails loudly instead. A tie between docs with IDENTICAL
    * shingle sets is indistinguishable from a replay and flows
    * through — harmless by construction.
    *
    * Under a horizon each stored set gets a one-shot event-time
    * eviction timer at its [[ttlExpiryMs]]. A probe for a doc whose
    * state was evicted is impossible by the expiry inequality: the
    * probing doc would have to be beyond the horizon, and op 1 checks
    * the horizon on ords before emitting. Without a horizon no timer
    * is registered.
    */
  private final class DocShinglesProcessor[T](threshold: Double,
                                              horizonMicros: Option[Long],
                                              shEnc: org.apache.spark.sql.Encoder[Array[Long]])
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ProbeRow[T], Vote[T]] {
    @transient private var sh: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
      : Unit = {
      sh = getHandle.getValueState[Array[Long]]("sh", shEnc,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        g: Long,
        rows: Iterator[ProbeRow[T]],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[Vote[T]] = {
      val (selfRows, probes) =
        rows.toSeq.partition(p => p._1 == p._2 && p._4.isDefined)
      // exactly one self row per doc by construction — a second one
      // means two DISTINCT docs share an ord within this batch
      if (selfRows.length > 1)
        throw new IllegalStateException(
          s"duplicate ord $g across documents — ord must uniquely " +
            "identify a document (two docs' rows would merge in the " +
            "per-doc reduce)")
      val out = scala.collection.mutable.ArrayBuffer.empty[Vote[T]]
      selfRows.foreach { case (_, o, shArr, docOpt, _) =>
        // shingle-less docs create no state (and need no timer)
        if (shArr.nonEmpty) {
          if (!sh.exists()) {
            sh.update(shArr)
            horizonMicros.foreach(h => getHandle.registerTimer(
              ttlTimerMs(o, h, timerValues.getCurrentWatermarkInMs())))
          } else if (!java.util.Arrays.equals(sh.get(), shArr))
            throw new IllegalStateException(
              s"ord $g re-arrived with a DIFFERENT shingle set — " +
                "two distinct documents share an ord across " +
                "batches; ord must uniquely identify a document")
        }
        out += ((o, None, false, docOpt))
      }
      if (probes.nonEmpty) {
        val mine = (if (sh.exists()) Option(sh.get()) else None)
          .orElse(selfRows.headOption.map(_._3))
          .getOrElse(throw new IllegalStateException(
            s"probe for ord $g found neither stored shingles nor a " +
              "self row — band state and the doc store have diverged"))
        probes.foreach { case (_, f, shF, _, _) =>
          if (f == g && shF.isEmpty) out += ((f, None, true, None)) // sentinel
          else if (jaccardSorted(mine, shF) >= threshold)
            out += ((f, Some(g), false, None))
        }
      }
      out.iterator
    }
    override def handleExpiredTimer(
        g: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[Vote[T]] = {
      // past the horizon of every row the late filter can still
      // admit — reclaim the doc's one stored copy
      sh.clear()
      Iterator.empty
    }
  }

  /** md5 hex digest of a string's UTF-8 bytes — the streaming dedup
    * key ([[streamingFirstOccurrenceBy]] callers key state on the
    * digest so the state store never holds document text), spelled to
    * agree byte-for-byte with SQL `md5(text)` in Spark and DuckDB.
    * Hot-path shape: it runs once per streamed document, so the
    * digest instance is thread-local-reused (getInstance does a
    * provider lookup per call) and the hex encode is a table lookup,
    * not per-byte format-string boxing.
    */
  def md5Hex(s: String): String = {
    val md = Md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val HexChars = "0123456789abcdef".toCharArray
  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
