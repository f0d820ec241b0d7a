package graft.oracle

/** DuckDB oracles for the LLM-pipeline extension operators (SURVEY §2.10).
  * MinHash/SimHash SQL is generated programmatically to mirror the Spark
  * constructions hash-for-hash (md5 everywhere — see
  * `operators/Dedup.scala` determinism note).
  */
object OracleSqlExt {

  /** Shared doc shingling CTE (3-gram distinct word shingles).
    * `recursive = true` emits `WITH RECURSIVE` (a recursive CTE later in
    * the same with-list requires the keyword up front). `rel` is the
    * corpus relation to shingle (default the base table; the x102
    * incremental chain shingles its derived reprocess set instead) and
    * `prelude` injects CTEs ahead of `docs` to define it.
    */
  private def shCte(n: Int, recursive: Boolean = false,
                    rel: String = "documents", prelude: String = ""): String = {
    val gram = (0 until n).map(k => s"toks[i+${k + 1}]").mkString(" || ' ' || ")
    s"""WITH ${if (recursive) "RECURSIVE " else ""}${prelude}docs AS (
       |  SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM $rel
       |), sh AS (
       |  SELECT doc_id, n_chars,
       |         CASE WHEN len(toks) >= $n
       |              THEN list_distinct(list_transform(range(len(toks)-${n - 1}),
       |                                                i -> $gram))
       |              ELSE CAST([] AS VARCHAR[]) END AS s
       |  FROM docs
       |)""".stripMargin
  }

  def dedupExactSql: String =
    """WITH d AS (
      |  SELECT lang, source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
      |         count(*) OVER (PARTITION BY lang, source) AS gs
      |  FROM documents
      |)
      |SELECT lang, source, doc_id, n_chars, CAST(gs AS BIGINT) AS group_size
      |FROM d WHERE rn = 1 ORDER BY lang, source""".stripMargin

  def ngramJaccardSql(threshold: Double, band: Long): String =
    shCte(3) +
      s""", p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         len(list_intersect(a.s, b.s)) AS inter,
         |         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |   AND b.n_chars >= a.n_chars - $band AND b.n_chars <= a.n_chars + $band
         |)
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
         |FROM p WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |ORDER BY doc_a, doc_b""".stripMargin

  /** Mirrors `Dedup.crossCorpusPairs` with the new/ref split
    * `doc_id % 5 = 0` ⇒ reference side. The oracle is the naive banded
    * bipartite product + exact `list_intersect`, so the match proves
    * the engine's shared-prefix-order candidate generation loses no
    * cross-side pair.
    */
  def crossCorpusJaccardSql(threshold: Double, band: Long): String =
    shCte(3) +
      s""", p AS (
         |  SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
         |         len(list_intersect(a.s, b.s)) AS inter,
         |         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
         |  FROM sh a JOIN sh b
         |    ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
         |   AND b.n_chars >= a.n_chars - $band AND b.n_chars <= a.n_chars + $band
         |)
         |SELECT new_id, ref_id,
         |       CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
         |FROM p WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |ORDER BY new_id, ref_id""".stripMargin

  /** Shared connected-components closure over banded Jaccard pairs:
    * appends CTEs `p` (pairs), `e` (undirected edges), `reach`
    * (recursive transitive closure), `cl` (doc_id → min reachable id).
    * Requires [[shCte]] with `recursive = true` in front.
    */
  private def closureCte(threshold: Double, band: Long): String =
    s""", p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |   AND b.n_chars >= a.n_chars - $band AND b.n_chars <= a.n_chars + $band
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        >= $threshold
       |), e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION SELECT doc_b, doc_a FROM p
       |), reach AS (
       |  SELECT src AS doc_id, src AS r FROM e
       |  UNION
       |  SELECT e.src, reach.r FROM e JOIN reach ON reach.doc_id = e.dst
       |), cl AS (
       |  SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id
       |)""".stripMargin

  /** The quality-score expression over CTE columns n_tokens / stop_cnt /
    * distinct_cnt — single source for x26 and x48 (and mirrors
    * `TextAnalysis.quality` op for op).
    */
  private val qualityScoreExpr: String =
    """sqrt(CAST(n_tokens AS DOUBLE))
      |         * (1.0 - abs(CAST(stop_cnt AS DOUBLE)/CAST(n_tokens AS DOUBLE) - 0.1))
      |         * (CAST(distinct_cnt AS DOUBLE)/CAST(n_tokens AS DOUBLE))""".stripMargin

  /** Connected components over the Jaccard near-dup pairs: the oracle
    * computes the transitive closure with a recursive CTE and takes the
    * min reachable doc_id — a match proves the Spark side's iterative
    * min-label propagation reached the true fixpoint.
    */
  def dedupClustersSql(threshold: Double, band: Long): String =
    shCte(3, recursive = true) + closureCte(threshold, band) +
      """
        |SELECT doc_id, cluster,
        |       CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
        |FROM cl ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: non-benchmark docs sharing ≥ 1 shingle
    * with the benchmark subset (doc_id ≡ 0 mod 20), with the count of
    * distinct contaminated shingles.
    */
  def decontaminateSql: String =
    shCte(3) +
      """
        |, bench AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0
        |), cand AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0
        |)
        |SELECT cand.doc_id, count(*) AS n_contaminated
        |FROM cand JOIN bench ON cand.g = bench.g
        |GROUP BY cand.doc_id ORDER BY doc_id""".stripMargin

  /** Corpus bigram vocabulary top-k by frequency, deterministic total
    * order (cnt desc, gram) — mirror of the x61 word_grams + groupBy +
    * TakeOrdered plan.
    */
  def vocabTopkSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS l FROM documents
       |), grams AS (
       |  SELECT unnest(list_transform(generate_series(1, len(l)-1),
       |         i -> l[i] || ' ' || l[i+1])) AS gram
       |  FROM toks
       |)
       |SELECT gram, count(*) AS cnt FROM grams GROUP BY 1
       |ORDER BY cnt DESC, gram LIMIT $k""".stripMargin

  /** Per-language token-budget prefix — deliberately the NAIVE single
    * running sum per language, vs the Spark side's two-phase bucket
    * decomposition: the hash match proves the decomposition exact.
    */
  def tokenBudgetSql(budget: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
       |              AS BIGINT) AS cum
       |  FROM toks
       |)
       |SELECT doc_id, lang, n_tokens, cum FROM c
       |WHERE cum - n_tokens < $budget ORDER BY doc_id""".stripMargin

  /** BM25 top-k — mirror of `TextAnalysis.bm25TopK`: same exact int64
    * operands, the same ONE IEEE expression per (doc, term) with
    * arithmetic done IN the engine from identical literals (never
    * pre-folded in Scala — `double(1.2)+1.0` need not equal
    * `double(2.2)`), the same fixed-order per-doc term sum.
    */
  def bm25TopKSql(terms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): String = {
    require(terms.nonEmpty && terms.forall(!_.contains("'")),
      s"terms are spliced into SQL literals, got $terms")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      s"coalesce(max(CASE WHEN tok = '$t' THEN part END), 0.0) AS s_$i"
    }.mkString(",\n         ")
    val total = terms.indices.map(i => s"s_$i").mkString(" + ")
    s"""WITH dl AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok IN ($inList) GROUP BY doc_id, tok
       |), dft AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS tot_tokens
       |  FROM dl
       |), scored AS (
       |  SELECT tf.doc_id, tf.tok,
       |         ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |            / (CAST(df AS DOUBLE) + 0.5))
       |         * (CAST(tf AS DOUBLE) * ($k1 + 1.0))
       |         / (CAST(tf AS DOUBLE) + $k1 * (1.0 - $b + $b
       |              * CAST(dl AS DOUBLE)
       |              / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))
       |           AS part
       |  FROM tf JOIN dft ON tf.tok = dft.tok
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats
       |), pt AS (
       |  SELECT doc_id,
       |         $perTerm
       |  FROM scored GROUP BY doc_id
       |)
       |SELECT doc_id, $total AS score
       |FROM pt ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Language-ID confusion matrix — mirror of
    * `TextAnalysis.langConfusion`: the langIdSql plan as a subquery,
    * one grouped count + a totals join.
    */
  def langConfusionSql: String =
    s"""WITH li AS (
       |${langIdSql}
       |), tot AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
       |  FROM li GROUP BY lang
       |)
       |SELECT li.lang, predicted_lang, CAST(count(*) AS BIGINT) AS cnt,
       |       CAST(count(*) AS DOUBLE) / CAST(max(n_lang) AS DOUBLE) AS frac
       |FROM li JOIN tot ON li.lang = tot.lang
       |GROUP BY li.lang, predicted_lang
       |ORDER BY li.lang, predicted_lang""".stripMargin

  /** Training-shard assignment — mirror of
    * `TextAnalysis.trainingShards`: the oracle recomputes the shuffled
    * running sum as ONE naive global window over md5 order, so the
    * hash match proves the 256-bucket two-phase decomposition exact.
    * md5 of the decimal doc_id string is identical in both engines;
    * the window sum CASTs back from DuckDB's HUGEINT widening.
    */
  def trainingShardsSql(shardTokens: Long): String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY h) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT doc_id, n_tokens,
       |       CAST((cum - n_tokens) // $shardTokens AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin

  /** Shard manifest — mirror of `TextAnalysis.shardManifest`: the
    * naive global-window shard assignment joined back to the doc
    * metadata, rolled up per shard.
    */
  def shardManifestSql(shardTokens: Long): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS h,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY h) AS BIGINT) AS cum
       |  FROM t
       |), a AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CAST((cum - n_tokens) // $shardTokens AS BIGINT) AS shard
       |  FROM c
       |)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin

  /** Per-doc OOV rate vs the corpus top-k unigram vocabulary — mirror
    * of `TextAnalysis.oovRate`: same total vocabulary order
    * (count desc, token asc), same int64 counts, same single final
    * division on the same operands.
    */
  def oovRateSql(vocabK: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
       |    ORDER BY cnt DESC, tok LIMIT $vocabK)
       |), j AS (
       |  SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(oov) AS BIGINT) AS n_oov,
       |       CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** End-to-end corpus curation (quality gate → near-dup
    * canonicalization AMONG gate survivors → stratified split) —
    * mirrors `TextAnalysis.curateWith` stage for stage: each cluster
    * keeps its min-doc_id member that passed the gate.
    */
  def curateSql(minScore: Double, threshold: Double, band: Long,
                seed: String): String =
    shCte(3, recursive = true) + closureCte(threshold, band) +
      s""", u AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(len(toks2) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(toks2, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
         |         CAST(len(list_distinct(toks2)) AS BIGINT) AS distinct_cnt
         |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks2
         |        FROM documents)
         |), kept0 AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(concat('0x', substr(md5('$seed' || CAST(doc_id AS VARCHAR)), 1, 4))
         |              AS BIGINT) % 10 AS bucket
         |  FROM u
         |  WHERE $qualityScoreExpr >= $minScore
         |), cs AS (
         |  SELECT kept0.doc_id, cl.cluster
         |  FROM kept0 JOIN cl ON kept0.doc_id = cl.doc_id
         |), dropped AS (
         |  SELECT cs.doc_id
         |  FROM cs JOIN (SELECT cluster, min(doc_id) AS keep
         |                FROM cs GROUP BY cluster) c2
         |    ON cs.cluster = c2.cluster
         |  WHERE cs.doc_id <> c2.keep
         |), kept AS (
         |  SELECT * FROM kept0
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |)
         |SELECT lang,
         |       CASE WHEN bucket < 8 THEN 'train'
         |            WHEN bucket = 8 THEN 'valid'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |FROM kept GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Deterministic md5 train/valid/test split, stratified counts. */
  def splitCountsSql(seed: String): String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |         CAST(concat('0x', substr(md5('$seed' || CAST(doc_id AS VARCHAR)), 1, 4))
       |              AS BIGINT) % 10 AS bucket
       |  FROM documents
       |)
       |SELECT lang,
       |       CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket = 8 THEN 'valid'
       |            ELSE 'test' END AS split,
       |       count(*) AS n
       |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Mirrors the x96 leakage-safe split: the recursive-CTE cluster
    * closure (the x45 oracle), each doc's representative =
    * `coalesce(cluster, doc_id)`, and the splitCountsSql md5 bucket
    * rule keyed on the REPRESENTATIVE.
    */
  def clusterSafeSplitSql(threshold: Double, band: Long,
                          seed: String): String =
    shCte(3, recursive = true) + closureCte(threshold, band) +
      s""", rep AS (
         |  SELECT d.doc_id,
         |         CAST(coalesce(cl.cluster, d.doc_id) AS BIGINT) AS rep
         |  FROM documents d LEFT JOIN cl USING (doc_id)
         |), bkt AS (
         |  SELECT doc_id, rep,
         |         CAST(concat('0x', substr(md5('$seed' || CAST(rep AS VARCHAR)), 1, 4))
         |              AS BIGINT) % 10 AS bucket
         |  FROM rep
         |)
         |SELECT doc_id, rep,
         |       CASE WHEN bucket < 8 THEN 'train'
         |            WHEN bucket = 8 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM bkt ORDER BY doc_id""".stripMargin

  /** Mirrors the x97 curation ledger: quality gate (same score expr),
    * dup drop against the min-id representative AMONG NON-HELD QUALITY
    * SURVIVORS (curateWith's canonicalization, via the recursive-CTE
    * closure; held members never hold the slot — a canonical copy that
    * never enters the corpus must not shift its near-dups' reason from
    * `contaminated` to `duplicate`, and a closure member with no
    * DIRECT held overlap may then be kept, the x46 direct-overlap
    * policy applied consistently), held-set shingle contamination
    * (x46 convention), folded by the SAME fixed precedence CASE.
    */
  def curationLedgerSql(minScore: Double, threshold: Double,
                        band: Long): String =
    shCte(3, recursive = true) + closureCte(threshold, band) +
      ledgerTail(minScore, "documents")

  /** The ledger decision CTEs + final precedence CASE over an already
    * shingled/clustered corpus relation `rel` — shared by
    * [[curationLedgerSql]] (whole corpus) and
    * [[incrementalCurateLedgerSql]] (the snapshot-diff reprocess set),
    * so the gate rules can never drift between the two spellings.
    */
  private def ledgerTail(minScore: Double, rel: String): String =
    ledgerBaseCtes(rel) + ledgerDecisionCtes(minScore, "") +
      """
        |SELECT doc_id, reason FROM led ORDER BY doc_id""".stripMargin

  /** The threshold-INDEPENDENT ledger inputs: token stats `u`, held
    * shingles `bench`, contamination `cont` — shared by every ledger
    * spelling (and computed once even when [[ledgerDriftSql]] builds
    * two ledgers).
    */
  private def ledgerBaseCtes(rel: String): String =
      s""", u AS (
         |  SELECT doc_id,
         |         CAST(len(toks2) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(toks2, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
         |         CAST(len(list_distinct(toks2)) AS BIGINT) AS distinct_cnt
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks2
         |        FROM $rel)
         |), bench AS (
         |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0
         |), cont AS (
         |  SELECT DISTINCT c.doc_id
         |  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0) c
         |  JOIN bench ON c.g = bench.g
         |)""".stripMargin

  /** The per-threshold decision CTEs (`surv`, `dup`, `led`), suffixed
    * so two thresholds can coexist in one statement — the ONE spelling
    * of the gate precedence, so [[ledgerDriftSql]]'s two ledgers can
    * never drift from [[curationLedgerSql]]'s rules.
    */
  private def ledgerDecisionCtes(minScore: Double, sfx: String): String =
      s""", surv$sfx AS (
         |  SELECT cl.doc_id, cl.cluster
         |  FROM cl JOIN u ON cl.doc_id = u.doc_id
         |  WHERE $qualityScoreExpr >= $minScore AND cl.doc_id % 20 <> 0
         |), dup$sfx AS (
         |  SELECT surv$sfx.doc_id
         |  FROM surv$sfx JOIN (SELECT cluster, min(doc_id) AS keep
         |                  FROM surv$sfx GROUP BY cluster) c2$sfx
         |    ON surv$sfx.cluster = c2$sfx.cluster
         |  WHERE surv$sfx.doc_id <> c2$sfx.keep
         |), led$sfx AS (
         |  SELECT u.doc_id,
         |         CASE WHEN $qualityScoreExpr < $minScore THEN 'low_quality'
         |              WHEN u.doc_id IN (SELECT doc_id FROM dup$sfx) THEN 'duplicate'
         |              WHEN u.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |              ELSE 'kept' END AS reason
         |  FROM u WHERE u.doc_id % 20 <> 0
         |)""".stripMargin

  /** Mirrors the x107 ledger drift report: two full curation ledgers —
    * same corpus, quality bar `minBefore` vs `minAfter` — joined
    * full-outer on (doc_id, reason) and reduced to per-reason counts
    * with the enter/leave churn decomposition, exactly
    * `TextAnalysis.ledgerDrift` over two `curationLedger` runs. Sums
    * CAST back to BIGINT (DuckDB widens to HUGEINT).
    */
  def ledgerDriftSql(minBefore: Double, minAfter: Double,
                     threshold: Double, band: Long): String =
    shCte(3, recursive = true) + closureCte(threshold, band) +
      ledgerBaseCtes("documents") +
      ledgerDecisionCtes(minBefore, "_b") +
      ledgerDecisionCtes(minAfter, "_a") +
      """
        |, j AS (
        |  SELECT coalesce(b.reason, a.reason) AS reason,
        |         b.doc_id IS NOT NULL AS in_b, a.doc_id IS NOT NULL AS in_a
        |  FROM led_b b FULL OUTER JOIN led_a a
        |    ON b.doc_id = a.doc_id AND b.reason = a.reason
        |)
        |SELECT reason,
        |       CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
        |       CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |       CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_entered,
        |       CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_left,
        |       CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END)
        |            - sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS delta
        |FROM j GROUP BY reason ORDER BY reason""".stripMargin

  /** Mirrors the x102 incremental-pipeline composition: the x90
    * snapshot synthesis (every 10th id deleted and reborn at
    * +1000000, every 7th survivor revised), the diff's reprocess set
    * `added ∪ changed` as ONE left join (new-side rows whose id is
    * absent from the old snapshot or whose fingerprint differs —
    * exactly `snapshotDiff`'s classification restricted to the new
    * side), then the FULL curation ledger chain — shingles, closure
    * clustering, quality gate, dup canonicalization, held-set
    * contamination — over that derived relation instead of the base
    * table. `n_chars` is recomputed from the revised text on both
    * sides (the base column describes the old snapshot).
    */
  def incrementalCurateLedgerSql(minScore: Double, threshold: Double,
                                 band: Long): String = {
    val prelude =
      """newsnap AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |           AS text,
        |         lang
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang
        |  FROM documents WHERE doc_id % 10 = 0
        |), reproc AS (
        |  SELECT n.doc_id, n.text, n.lang,
        |         CAST(len(n.text) AS BIGINT) AS n_chars
        |  FROM newsnap n LEFT JOIN documents o ON n.doc_id = o.doc_id
        |  WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)
        |), """.stripMargin
    shCte(3, recursive = true, rel = "reproc", prelude = prelude) +
      closureCte(threshold, band) + ledgerTail(minScore, "reproc")
  }

  /** The MinHash+LSH candidate/verify CTE chain (`nz` → `sig` →
    * `bands` → `cand` → `j`), shared by [[minhashLshSql]] (the pair
    * list) and [[streamNearDupGateSql]] (the gate's kept set — same
    * candidate rule, same verify, different final projection).
    * Double hashing (Kirsch–Mitzenmacher), mirroring Dedup
    * .withMinhashSignature: h_i = g1 + i*g2 over the two 56-bit halves
    * of one md5 — exact int64 arithmetic in both engines.
    */
  private def minhashCandCtes(k: Int, r: Int, rel: String = "documents",
                              prelude: String = ""): String = {
    def g(off: Int) = s"CAST(('0x' || substr(md5(x), $off, 14)) AS BIGINT)"
    val sigCols = (0 until k).map(i =>
      s"list_min(list_transform(s, x -> ${g(1)} + $i * ${g(17)})) AS h$i")
      .mkString(",\n         ")
    val bandRows = (0 until k / r).map { j =>
      val cat = (0 until r).map(o => s"CAST(h${j * r + o} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $j AS band, md5($cat) AS bsig FROM sig"
    }.mkString("\n  UNION ALL ")
    shCte(3, rel = rel, prelude = prelude) +
      s""", nz AS (SELECT * FROM sh WHERE len(s) > 0),
         |sig AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM nz
         |), bands AS (
         |  $bandRows
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
         |), j AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS inter,
         |         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
         |  FROM cand
         |  JOIN nz sa ON sa.doc_id = doc_a
         |  JOIN nz sb ON sb.doc_id = doc_b
         |)""".stripMargin
  }

  def minhashLshSql(threshold: Double, k: Int = 12, r: Int = 3): String =
    minhashCandCtes(k, r) +
      s"""
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
         |FROM j WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |ORDER BY doc_a, doc_b""".stripMargin

  /** Mirrors the x160 bucket-capped batch LSH: candidate pairs come
    * only from band buckets holding ≤ `cap` docs (the batch circuit
    * breaker — symmetric, so the closed form is a per-bucket count
    * filter, no sequential rank), verified at exact Jaccard ≥
    * `threshold` as usual.
    */
  def minhashLshCappedSql(threshold: Double, cap: Int, k: Int = 12,
                          r: Int = 3): String =
    minhashCandCtes(k, r) +
      s""", bsz AS (
         |  SELECT band, bsig, count(*) AS n FROM bands GROUP BY band, bsig
         |), candk AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bsz s ON s.band = a.band AND s.bsig = a.bsig AND s.n <= $cap
         |  JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
         |), jk AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS inter,
         |         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
         |  FROM candk
         |  JOIN nz sa ON sa.doc_id = doc_a
         |  JOIN nz sb ON sb.doc_id = doc_b
         |)
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
         |FROM jk WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |ORDER BY doc_a, doc_b""".stripMargin

  /** Mirrors `Dedup.lshAudit`: the LSH candidate pairs with their
    * exact Jaccard (the `j` CTE, unfiltered), the exhaustive banded
    * ground truth at min(thresholds) (the x21 naive spelling), a
    * left-join membership flag, and per-threshold conditional counts
    * over a CROSS JOIN with the threshold seed. `precision` is quoted
    * (DuckDB keyword); every count CASTs back to BIGINT against
    * HUGEINT widening; both ratios are single int/int IEEE divides.
    */
  def lshAuditSql(thresholds: Seq[Double], k: Int = 12, r: Int = 3,
                  band: Long = 50L): String =
    minhashCandCtes(k, r) +
      s""", cj AS (
         |  SELECT doc_a, doc_b,
         |         CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard FROM j
         |), tr0 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         len(list_intersect(a.s, b.s)) AS inter,
         |         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |   AND b.n_chars >= a.n_chars - $band AND b.n_chars <= a.n_chars + $band
         |), tr AS (
         |  SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
         |  FROM tr0 WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= ${thresholds.min}
         |), fl AS (
         |  SELECT cj.jaccard,
         |         CASE WHEN tr.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
         |  FROM cj LEFT JOIN tr USING (doc_a, doc_b)
         |), ts AS (
         |  SELECT unnest(CAST([${thresholds.sorted.mkString(", ")}] AS DOUBLE[])) AS threshold
         |), ca AS (
         |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_cand,
         |         CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
         |         CAST(sum(CASE WHEN jaccard >= threshold AND in_truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM fl CROSS JOIN ts GROUP BY threshold
         |), ta AS (
         |  SELECT threshold,
         |         CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_true
         |  FROM tr CROSS JOIN ts GROUP BY threshold
         |)
         |SELECT ts.threshold,
         |       CAST(coalesce(ca.n_cand, 0) AS BIGINT) AS n_cand,
         |       CAST(coalesce(ca.n_verified, 0) AS BIGINT) AS n_verified,
         |       CAST(coalesce(ta.n_true, 0) AS BIGINT) AS n_true,
         |       CAST(coalesce(ca.n_hit, 0) AS BIGINT) AS n_hit,
         |       CASE WHEN coalesce(ca.n_cand, 0) > 0
         |            THEN CAST(ca.n_verified AS DOUBLE) / CAST(ca.n_cand AS DOUBLE)
         |            ELSE 0.0 END AS "precision",
         |       CASE WHEN coalesce(ta.n_true, 0) > 0
         |            THEN CAST(coalesce(ca.n_hit, 0) AS DOUBLE) / CAST(ta.n_true AS DOUBLE)
         |            ELSE 0.0 END AS recall
         |FROM ts LEFT JOIN ca USING (threshold) LEFT JOIN ta USING (threshold)
         |ORDER BY threshold""".stripMargin

  /** Mirrors the x108 streaming near-dup gate on id-ordered arrival:
    * a doc is rejected iff some SMALLER-id doc shares an LSH band
    * bucket with it and verifies at `threshold` — the closed batch
    * form of "no previously seen verified near-duplicate". Pairs in
    * `j` already carry doc_a < doc_b, so the rejected side is exactly
    * the doc_b projection; shingle-less docs are absent from `nz` on
    * both sides and pass through.
    */
  def streamNearDupGateSql(threshold: Double, k: Int = 12,
                           r: Int = 3): String =
    minhashCandCtes(k, r) +
      s"""
         |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT doc_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold)
         |ORDER BY d.doc_id""".stripMargin

  /** Mirrors the x158 capped gate (`hotBucketCap = cap`): the breaker
    * freezes each band bucket at its first `cap` arrivals, so the
    * capped gate has its own exact closed form — non-recursive
    * because freezing is PER BUCKET (a capped doc still enters its
    * other, unfrozen buckets): with
    * `rn = row_number() over (partition by band, bsig order by
    * doc_id)`, a doc is rejected iff it lands in any bucket with
    * `rn > cap` (the auto-reject — the bucket already held `cap`
    * members at its arrival) OR it verifies at Jaccard ≥ `threshold`
    * against an earlier doc in a bucket it ENTERED (`rn ≤ cap` — a
    * doc appended to a bucket probes every earlier member, and all
    * earlier same-sig docs are members exactly when rn ≤ cap).
    * Reuses [[minhashCandCtes]]'s `bands`/`nz` CTEs (its uncapped
    * `cand`/`j` CTEs go unused — DuckDB tolerates that).
    */
  def streamGateCappedSql(threshold: Double, cap: Int, k: Int = 12,
                          r: Int = 3): String =
    minhashCandCtes(k, r) +
      s""", br AS (
         |  SELECT doc_id, band, bsig,
         |         row_number() OVER (PARTITION BY band, bsig
         |                            ORDER BY doc_id) AS rn
         |  FROM bands
         |), frozen AS (
         |  SELECT DISTINCT doc_id FROM br WHERE rn > $cap
         |), candc AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM br a JOIN br b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
         |   AND b.rn <= $cap
         |), jc AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS inter,
         |         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
         |  FROM candc
         |  JOIN nz sa ON sa.doc_id = doc_a
         |  JOIN nz sb ON sb.doc_id = doc_b
         |)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM frozen)
         |  AND d.doc_id NOT IN (
         |  SELECT doc_b FROM jc
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold)
         |ORDER BY d.doc_id""".stripMargin

  /** Mirrors the x109 gate AUDIT stream: every doc with its verdict —
    * admitted iff no smaller-id verified LSH pair rejects it (the
    * x108 rule as a flag instead of a filter).
    */
  def streamGateAuditSql(threshold: Double, k: Int = 12,
                         r: Int = 3): String =
    minhashCandCtes(k, r) +
      s"""
         |SELECT d.doc_id,
         |       d.doc_id NOT IN (
         |         SELECT doc_b FROM j
         |         WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold)
         |         AS admitted
         |FROM documents d ORDER BY d.doc_id""".stripMargin

  /** Mirrors the x161 reason-tagged gate audit under `hotBucketCap =
    * cap`: the composition of the two reject closed forms — the
    * smaller-id verified pair rule restricted to ENTERED buckets
    * (x158's `rn ≤ cap` membership) names the near-dup reason and its
    * smallest verified prior, the `rn > cap` freeze rule names the
    * hot-bucket reason, and a doc hitting both reports the VERIFIED
    * one (the gate's documented precedence: an actual near-duplicate
    * beats a boilerplate heuristic).
    */
  def streamGateAuditReasonsSql(threshold: Double, cap: Int, k: Int = 12,
                                r: Int = 3): String =
    minhashCandCtes(k, r) +
      s""", br AS (
         |  SELECT doc_id, band, bsig,
         |         row_number() OVER (PARTITION BY band, bsig
         |                            ORDER BY doc_id) AS rn
         |  FROM bands
         |), frozen AS (
         |  SELECT DISTINCT doc_id FROM br WHERE rn > $cap
         |), candc AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM br a JOIN br b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
         |   AND b.rn <= $cap
         |), jc AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS inter,
         |         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
         |  FROM candc
         |  JOIN nz sa ON sa.doc_id = doc_a
         |  JOIN nz sb ON sb.doc_id = doc_b
         |), nd AS (
         |  SELECT doc_b, min(doc_a) AS of_ord FROM jc
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |  GROUP BY doc_b
         |)
         |SELECT d.doc_id,
         |       CASE WHEN nd.of_ord IS NOT NULL THEN 'near_dup'
         |            WHEN fz.doc_id IS NOT NULL THEN 'hot_bucket'
         |            ELSE 'admitted' END AS reason,
         |       nd.of_ord AS of_ord
         |FROM documents d
         |LEFT JOIN nd ON nd.doc_b = d.doc_id
         |LEFT JOIN frozen fz ON fz.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  /** Mirrors the x162 TTL gate audit at the default (∞) cap: every
    * doc with its reason under the horizon semantics — `near_dup`
    * with the SMALLEST verified prior within `horizon`, else
    * `admitted` (a verified pair beyond the horizon re-admits, and
    * `of_ord` stays NULL for it — the re-admission contract per doc).
    */
  def streamGateTtlAuditReasonsSql(threshold: Double, horizon: Long,
                                   k: Int = 12, r: Int = 3): String =
    minhashCandCtes(k, r) +
      s""", nd AS (
         |  SELECT doc_b, min(doc_a) AS of_ord FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |    AND doc_b - doc_a <= $horizon
         |  GROUP BY doc_b
         |)
         |SELECT d.doc_id,
         |       CASE WHEN nd.of_ord IS NOT NULL THEN 'near_dup'
         |            ELSE 'admitted' END AS reason,
         |       nd.of_ord AS of_ord
         |FROM documents d
         |LEFT JOIN nd ON nd.doc_b = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  /** Mirrors the x129 horizon-bounded gate: the x108 closed form plus
    * the horizon predicate — a doc is rejected only by a verified
    * band-sharing pair whose id gap (≡ event-time µs gap) is within
    * `horizon`; beyond it the near-dup is re-admitted.
    */
  def streamNearDupGateTtlSql(threshold: Double, horizon: Long,
                              k: Int = 12, r: Int = 3): String =
    minhashCandCtes(k, r) +
      s"""
         |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT doc_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |    AND doc_b - doc_a <= $horizon)
         |ORDER BY d.doc_id""".stripMargin

  /** Run-of-5 duplicate synthesis shared by the x103/x110 corpus-pipe
    * oracles — each doc carries its run head's text
    * (`doc_id - doc_id % 5`); with `mutate`, each run's ≡1 member
    * appends one token (near-dup, not exact). Emitted as CTEs ending
    * in `synth(doc_id, lang, source, text, n_chars)`; n_chars derives
    * from `text` in a second CTE so the mutation is spelled once and
    * the two columns cannot drift. One definition keeps the two
    * oracles synthesis-identical, which is what makes the "same pipe,
    * different gate" comparison meaningful.
    */
  private def corpusSynthCtes(mutate: Boolean): String = {
    val textExpr =
      if (mutate)
        "CASE WHEN d.doc_id % 5 = 1 THEN c.text || ' mutado' ELSE c.text END"
      else "c.text"
    s"""canon AS (
       |  SELECT doc_id AS c_id, text FROM documents
       |), synth0 AS (
       |  SELECT d.doc_id, d.lang, d.source, $textExpr AS text
       |  FROM (SELECT doc_id, lang, source, doc_id - doc_id % 5 AS c_id
       |        FROM documents) d
       |  JOIN canon c USING (c_id)
       |), synth AS (
       |  SELECT doc_id, lang, source, text,
       |         CAST(len(text) AS BIGINT) AS n_chars
       |  FROM synth0
       |), """.stripMargin
  }

  /** Mirrors the x110 gate-through-the-file-pipe composition: the
    * x103 run-of-5 duplicate synthesis streamed through the NEAR-DUP
    * admission gate instead of exact dedup — kept = synthesized docs
    * with no smaller-id verified LSH pair (identical run members
    * share every band at Jaccard 1 and collapse to the run head;
    * mutated members are rejected exactly when the x22 candidate +
    * verify rules say so; shingle-less texts pass ungated on both
    * sides, where exact dedup would have collapsed them).
    */
  def streamGateCorpusSql(threshold: Double, k: Int = 12,
                          r: Int = 3): String =
    minhashCandCtes(k, r, rel = "synth",
      prelude = corpusSynthCtes(mutate = true)) +
      s"""
         |SELECT s.doc_id, s.lang, s.source, s.n_chars FROM synth s
         |WHERE s.doc_id NOT IN (
         |  SELECT doc_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold)
         |ORDER BY s.doc_id""".stripMargin


  /** Mirrors the x163 audited pipe: the REJECT side of
    * [[streamGateCorpusSql]]'s composition — every synthesized doc
    * with a smaller-id verified LSH pair, tagged `near_dup` with the
    * smallest such prior (the gate's of_ord rule). `hot_bucket`
    * cannot occur at the fixture's ∞ cap, so the reason column is
    * the constant it should be.
    */
  def streamGateCorpusAuditSql(threshold: Double, k: Int = 12,
                               r: Int = 3): String =
    minhashCandCtes(k, r, rel = "synth",
      prelude = corpusSynthCtes(mutate = true)) +
      s""", nd AS (
         |  SELECT doc_b, min(doc_a) AS of_ord FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |  GROUP BY doc_b
         |)
         |SELECT CAST('near_dup' AS VARCHAR) AS reason,
         |       doc_b AS doc_id, of_ord
         |FROM nd ORDER BY doc_id""".stripMargin

  /** Mirrors the x164 fully audited pipe: the quality door's drops
    * (reason `low_quality`, with the score as evidence) plus the
    * near-dup rejects among quality SURVIVORS — the pipe's
    * gate-before-dedup order stated in SQL by running the LSH closed
    * form over the surviving subset only. Shares [[qualityScoreExpr]]
    * with the x26/x97 mirrors (one spelling of the score).
    */
  def streamGateCorpusQualityAuditSql(threshold: Double, minScore: Double,
                                      k: Int = 12, r: Int = 3): String = {
    val prelude = corpusSynthCtes(mutate = true) +
      s"""qual AS (
         |  SELECT doc_id,
         |         CAST(len(toks2) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(toks2, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
         |         CAST(len(list_distinct(toks2)) AS BIGINT) AS distinct_cnt
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM synth)
         |), qscore AS (
         |  SELECT doc_id, $qualityScoreExpr AS quality_score FROM qual
         |), surv AS (
         |  SELECT s.* FROM synth s JOIN qscore q USING (doc_id)
         |  WHERE q.quality_score >= $minScore
         |), """.stripMargin
    minhashCandCtes(k, r, rel = "surv", prelude = prelude) +
      s""", nd AS (
         |  SELECT doc_b, min(doc_a) AS of_ord FROM j
         |  WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= $threshold
         |  GROUP BY doc_b
         |)
         |SELECT CAST('low_quality' AS VARCHAR) AS reason, q.doc_id,
         |       CAST(NULL AS BIGINT) AS of_ord, q.quality_score
         |FROM qscore q WHERE q.quality_score < $minScore
         |UNION ALL
         |SELECT CAST('near_dup' AS VARCHAR) AS reason, doc_b AS doc_id,
         |       of_ord, CAST(NULL AS DOUBLE) AS quality_score
         |FROM nd
         |ORDER BY doc_id""".stripMargin
  }

  def simhashPairsSql(maxDist: Int, band: Long, bits: Int = 60): String = {
    val sums = (0 until bits).map(b =>
      s"sum(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val fp = (0 until bits).map(b =>
      s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), v AS (
       |  SELECT doc_id, n_chars,
       |         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS v
       |  FROM t
       |), s AS (
       |  SELECT doc_id, n_chars,
       |         $sums
       |  FROM v GROUP BY doc_id, n_chars
       |), f AS (
       |  SELECT doc_id, n_chars, $fp AS simhash FROM s
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM f a JOIN f b ON a.doc_id < b.doc_id
       |  AND b.n_chars >= a.n_chars - $band AND b.n_chars <= a.n_chars + $band
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private def cosineCte: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, vq,
      |         list_sum(list_transform(vq, x -> x*x)) AS n2
      |  FROM e
      |)""".stripMargin

  /** The quantized-cosine spelling between vector `av` (norm² `an`)
    * and vector `bv` (norm² `bn`) — ONE definition shared by every
    * embedding oracle (x24/x25/x36/x73/x75), so a fix to the
    * zero-norm guard or the 1-based list indexing lands in all of
    * them at once instead of drifting per copy.
    */
  private def cosSql(av: String, an: String, bv: String, bn: String): String =
    s"CASE WHEN $an = 0 OR $bn = 0 THEN 0.0 ELSE " +
      s"CAST(list_sum(list_transform(range(len($av)), i -> $av[i+1]*$bv[i+1])) AS DOUBLE)" +
      s" / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE))) END"

  /** Within-cell ordered candidate pairs with their cosine — shared
    * by the x36 near-dup and x73 semantic-dedup oracles.
    */
  private def pairCte: String =
    s""", pc AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosSql("a.vq", "a.n2", "b.vq", "b.n2")} AS cosine
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |)""".stripMargin

  private def cosineTail(k: Int): String =
    s""", c AS (
      |  SELECT q_id, vec_id,
      |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
      |  FROM cand
      |), r AS (
      |  SELECT q_id, vec_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
      |  FROM c
      |)
      |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, cosine
      |FROM r WHERE rn <= """.stripMargin + k +
      "\nORDER BY q_id, rank"

  def cosineTopKSql(queryIds: Seq[Long], k: Int): String =
    cosineCte +
      s""", q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cand AS (
         |  SELECT q_id, vec_id, vq, qv, n2, qn2
         |  FROM n CROSS JOIN q WHERE vec_id <> q_id
         |)""".stripMargin + cosineTail(k)

  def cosineIvfSql(queryIds: Seq[Long], k: Int): String =
    cosineCte +
      s""", q AS (
         |  SELECT vec_id AS q_id, label AS q_label, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cand AS (
         |  SELECT q_id, vec_id, vq, qv, n2, qn2
         |  FROM n JOIN q ON n.label = q.q_label WHERE vec_id <> q_id
         |)""".stripMargin + cosineTail(k)

  def cosineNearDupSql(threshold: Double): String =
    cosineCte + pairCte +
      s"""
         |SELECT vec_a, vec_b, cosine FROM pc WHERE cosine >= $threshold
         |ORDER BY vec_a, vec_b""".stripMargin

  /** SemDeDup pairwise keep/remove — mirror of
    * `Similarity.semanticDedup`: same cell-blocked quantized cosine
    * pairs, removed ⇔ ANY lower-id within-cell neighbor at cosine ≥
    * threshold, dup_of = min such neighbor (may itself be removed —
    * see the operator's docstring on non-transitivity).
    */
  def semanticDedupSql(threshold: Double): String =
    cosineCte + pairCte +
      s""", d AS (
         |  SELECT vec_b AS vec_id, min(vec_a) AS dup_of
         |  FROM pc WHERE cosine >= $threshold GROUP BY vec_b
         |)
         |SELECT n.vec_id, n.label,
         |       CAST(d.dup_of IS NULL AS BIGINT) AS kept, d.dup_of
         |FROM n LEFT JOIN d ON n.vec_id = d.vec_id
         |ORDER BY n.vec_id""".stripMargin

  /** Embedding-space decontamination — mirror of
    * `Similarity.embedDecontaminate` with the held set `vec_id % 20 = 0`.
    */
  def embedDecontaminateSql(threshold: Double): String =
    cosineCte +
      s""", held AS (
         |  SELECT vec_id AS q_id, label, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id % 20 = 0
         |), corpus AS (
         |  SELECT vec_id, label, vq, n2 FROM n WHERE NOT vec_id % 20 = 0
         |), h AS (
         |  SELECT c.vec_id, count(*) AS n_hits, min(q_id) AS first_hit
         |  FROM corpus c JOIN held q ON c.label = q.label
         |  WHERE (${cosSql("c.vq", "c.n2", "q.qv", "q.qn2")}) >= $threshold
         |  GROUP BY c.vec_id
         |)
         |SELECT c.vec_id, c.label,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, h.first_hit
         |FROM corpus c LEFT JOIN h ON c.vec_id = h.vec_id
         |ORDER BY c.vec_id""".stripMargin

  /** Product-quantization CTE chain shared by the x114/x115/x116
    * oracles — mirrors `Similarity.pqParts` exactly: quantized
    * vectors, m subvector slices (DuckDB 1-based inclusive slicing ≡
    * Spark `slice`), per-(label, sub, dim) truncated-integer-mean
    * codebooks (`//` ≡ Spark `div`, verified on negatives), and the
    * argmin code assignment with (d2, code) tie-break via
    * row_number. Every count/sum CASTs back to BIGINT against
    * HUGEINT widening; all arithmetic is integer, so codes and
    * distances are engine-exact.
    */
  /** Quantized embeddings with exact int64 squared norms — the `e`
    * CTE shared by the PQ chain and the exact-L2 oracle (x116 needs
    * no codebooks; it reuses just this).
    */
  private def embQuantCte: String =
    """WITH e0 AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
      |  FROM embeddings
      |), e AS (
      |  SELECT vec_id, label, vq,
      |         list_sum(list_transform(vq, x -> x*x)) AS n2
      |  FROM e0
      |)""".stripMargin

  private def pqCte(m: Int, dims: Int,
                    basePred: String = "TRUE"): String = {
    val d = dims / m
    embQuantCte +
    s""", sub AS (
       |  SELECT vec_id, label, s.sub AS sub,
       |         vq[s.sub*$d+1 : s.sub*$d+$d] AS svq
       |  FROM e CROSS JOIN (SELECT unnest(range($m)) AS sub) s
       |), cbd AS (
       |  SELECT label, sub, di.dim AS dim,
       |         CAST(sum(svq[di.dim+1]) // count(*) AS BIGINT) AS c
       |  FROM sub CROSS JOIN (SELECT unnest(range($d)) AS dim) di
       |  WHERE $basePred
       |  GROUP BY label, sub, di.dim
       |), cb0 AS (
       |  SELECT label AS code, sub, list(c ORDER BY dim) AS cvec
       |  FROM cbd GROUP BY label, sub
       |), cb AS (
       |  SELECT code, sub, cvec,
       |         list_sum(list_transform(cvec, x -> x*x)) AS cn2
       |  FROM cb0
       |), sn AS (
       |  SELECT vec_id, sub, svq,
       |         list_sum(list_transform(svq, x -> x*x)) AS sn2
       |  FROM sub
       |), adist AS (
       |  SELECT sn.vec_id, sn.sub, cb.code,
       |         sn.sn2 - 2*list_sum(list_transform(range($d),
       |           i -> svq[i+1]*cvec[i+1])) + cb.cn2 AS d2
       |  FROM sn JOIN cb USING (sub)
       |), codes AS (
       |  SELECT vec_id, CAST(sub AS BIGINT) AS sub,
       |         CAST(code AS BIGINT) AS code, CAST(d2 AS BIGINT) AS d2
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                     ORDER BY d2, code) AS rn
       |        FROM adist)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** Mirrors `Similarity.pqCodes`. */
  def pqCodesSql(m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) +
      "\nSELECT vec_id, sub, code, d2 FROM codes ORDER BY vec_id, sub"

  /** Mirrors `TextAnalysis.temperatureMixture(alpha = 0.5)`: the Σ is
    * the SAME ordered left fold from 0.0 (list ORDER BY source,
    * prepend 0.0, list_reduce) as the engine's `aggregate` spelling —
    * bit-identical because `0.0 + w1 == w1` and both engines then add
    * in source order; sqrt is correctly rounded in both.
    */
  def temperatureMixtureSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), w AS (
      |  SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS weight
      |  FROM t
      |), tot AS (
      |  SELECT list_reduce(
      |           list_prepend(CAST(0 AS DOUBLE), list(weight ORDER BY source)),
      |           (a, x) -> a + x) AS tw
      |  FROM w
      |)
      |SELECT source, n_tokens, weight, weight / tw AS share
      |FROM w CROSS JOIN tot ORDER BY source""".stripMargin

  /** Mirrors `Similarity.pqDistortion`. */
  def pqDistortionSql(m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) +
      """
        |SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(d2) AS BIGINT) AS total_d2,
        |       CAST(max(d2) AS BIGINT) AS max_d2,
        |       CAST(sum(d2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_d2
        |FROM codes GROUP BY sub ORDER BY sub""".stripMargin

  /** The ADC CTEs on top of [[pqCte]] — query-side subvector distance
    * table (|Q|·m·k rows), then the sum-of-lookups scores and their
    * per-query ranking. ONE definition shared by the x115 result
    * oracle, the x117 recall oracle, and (with `cellRestrict`) the
    * x118 IVFADC oracle — mirroring the engine's shared
    * `adcDistTable`/`adcRank`, so the two engines' ADC spellings
    * cannot drift apart per variant. The rank cutoff is each caller's
    * `WHERE rn <= k`.
    */
  /** Each query's `nprobe` nearest coarse cells over the shared
    * quantized corpus `e` — `pcells(q_id, c_label)`, mirroring
    * `Similarity.probedCells`: truncated-integer-mean centroids
    * (the [[centroidCtes]] arithmetic, restated over `e` for the
    * embQuantCte-based SQ/PQ chains), exact int64 squared distance,
    * ties to the lower cell label, prefix by rank.
    */
  private def probeBaseCtes(queryIds: Seq[Long],
                            basePred: String = "TRUE"): String =
    s""", dimse AS (
       |  SELECT label, unnest(vq) AS v, generate_subscripts(vq, 1) AS dim
       |  FROM e WHERE $basePred
       |), cde AS (
       |  SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM dimse GROUP BY label, dim
       |), cente AS (
       |  SELECT label, list(s // cnt ORDER BY dim) AS cvec
       |  FROM cde GROUP BY label
       |), centne AS (
       |  SELECT label AS c_label, cvec,
       |         CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT)
       |           AS cn2
       |  FROM cente
       |), qce AS (
       |  SELECT e.vec_id AS q_id, c_label,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           CAST(n2 - 2*list_sum(list_transform(range(len(vq)),
       |                  i -> vq[i+1]*cvec[i+1])) + cn2 AS BIGINT),
       |           c_label) AS crk
       |  FROM e CROSS JOIN centne
       |  WHERE e.vec_id IN (${queryIds.mkString(",")})
       |)""".stripMargin

  private def probeCtes(queryIds: Seq[Long], nprobe: Int,
                        basePred: String = "TRUE"): String =
    probeBaseCtes(queryIds, basePred) +
      s""", pcells AS (
         |  SELECT q_id, c_label FROM qce WHERE crk <= $nprobe
         |)""".stripMargin

  /** The probe rule over the whole probe dimension —
    * `pcellsm(nprobe, q_id, c_label)`, the crk-prefix-per-curve-point
    * trick of `Similarity.probedCellsCore` (and annRecallCurveSql).
    */
  private def probeCtesMulti(queryIds: Seq[Long],
                             nprobes: Seq[Int]): String =
    probeBaseCtes(queryIds) +
      s""", probesv AS (
         |  SELECT CAST(np AS BIGINT) AS nprobe
         |  FROM (VALUES ${nprobes.map(p => s"($p)").mkString(", ")}) t(np)
         |), pcellsm AS (
         |  SELECT p.nprobe, qce.q_id, qce.c_label
         |  FROM qce CROSS JOIN probesv p WHERE qce.crk <= p.nprobe
         |)""".stripMargin

  private def adcCtes(queryIds: Seq[Long], m: Int, dims: Int,
                      cellRestrict: Boolean = false,
                      probeRestrict: Boolean = false): String = {
    require(!(cellRestrict && probeRestrict),
      "cellRestrict and probeRestrict are alternative prunes")
    val d = dims / m
    val qLabelSel = if (cellRestrict) "label AS q_label, " else ""
    val dtLabelSel = if (cellRestrict) "q.q_label, " else ""
    // after the dt join — the cell predicate references dt.q_label
    // (stored-cell restriction) or the probeCtes pcells prefix
    // (multi-probe restriction)
    val cellJoin =
      if (cellRestrict)
        "\n  JOIN e el ON el.vec_id = c.vec_id AND el.label = dt.q_label"
      else if (probeRestrict)
        "\n  JOIN e el ON el.vec_id = c.vec_id" +
          "\n  JOIN pcells pp ON pp.q_id = dt.q_id AND el.label = pp.c_label"
      else ""
    s""", qsub AS (
       |  SELECT vec_id AS q_id, ${qLabelSel}sub, svq AS qsv,
       |         list_sum(list_transform(svq, x -> x*x)) AS qsn2
       |  FROM sub WHERE vec_id IN (${queryIds.mkString(",")})
       |), dt AS (
       |  SELECT q.q_id, ${dtLabelSel}CAST(q.sub AS BIGINT) AS sub,
       |         CAST(cb.code AS BIGINT) AS code,
       |         q.qsn2 - 2*list_sum(list_transform(range($d),
       |           i -> qsv[i+1]*cvec[i+1])) + cb.cn2 AS qd2
       |  FROM qsub q JOIN cb ON q.sub = cb.sub
       |), sc AS (
       |  SELECT dt.q_id, c.vec_id, CAST(sum(dt.qd2) AS BIGINT) AS adc_d2
       |  FROM codes c
       |  JOIN dt ON c.sub = dt.sub AND c.code = dt.code${cellJoin}
       |  WHERE c.vec_id <> dt.q_id
       |  GROUP BY dt.q_id, c.vec_id
       |), tadc AS (
       |  SELECT q_id, vec_id, adc_d2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_d2, vec_id) AS rn
       |  FROM sc
       |)""".stripMargin
  }

  /** Mirrors `Similarity.topKPqAdc`. */
  def pqAdcTopKSql(queryIds: Seq[Long], k: Int,
                   m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) + adcCtes(queryIds, m, dims) +
      s"""
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, adc_d2
         |FROM tadc WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.ivfSearch` with `IvfCodec.Adc()`
    * and `CellRule.Own` — the identical ADC chain with
    * each code row's cell recovered through `e` and restricted to the
    * query's cell before scoring (FAISS-style IVFADC).
    */
  def pqIvfAdcTopKSql(queryIds: Seq[Long], k: Int,
                      m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) + adcCtes(queryIds, m, dims, cellRestrict = true) +
      s"""
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, adc_d2
         |FROM tadc WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.ivfSearch` with `IvfCodec.Adc()`
    * and `CellRule.Nearest(n)` — the IVFADC chain with
    * the stored-cell restriction widened to each query's `nprobe`
    * nearest coarse cells ([[probeCtes]]).
    */
  def pqIvfAdcProbedTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
                            m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) + probeCtes(queryIds, nprobe) +
      adcCtes(queryIds, m, dims, probeRestrict = true) +
      s"""
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, adc_d2
         |FROM tadc WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.searchIvfIndex` over an APPENDED
    * `IvfCodec.Adc()` index (x155): PQ codebook and coarse centroids
    * learned from the BASE subset only (`basePred` — the frozen
    * quantizer `buildIvfIndex` persisted), code assignment and search
    * over ALL vectors.
    */
  def pqIvfAdcAppendTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
                            basePred: String, m: Int = 8,
                            dims: Int = 64): String =
    pqCte(m, dims, basePred) + probeCtes(queryIds, nprobe, basePred) +
      adcCtes(queryIds, m, dims, probeRestrict = true) +
      s"""
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, adc_d2
         |FROM tadc WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.topKBruteL2` — exact squared-euclidean over
    * the full quantized vectors, rank ascending with vec_id
    * tie-break. Needs only the quantization CTE — no PQ machinery.
    */
  /** Shared SQ CTEs — mirror of `Similarity.sqCoded`: per-dim int64
    * extremes over the ×10⁴ domain, the same fixed IEEE code shape
    * (non-negative numerator ⇒ round ties agree), lockstep unnest for
    * the (vec, dim) grid.
    */
  private def sqCtes(basePred: String = "TRUE"): String =
    s""", dgrid AS (
       |  SELECT vec_id, unnest(range(len(vq))) AS dim0, unnest(vq) AS x
       |  FROM e
       |), params AS (
       |  SELECT CAST(dim0 AS BIGINT) AS dim, min(x) AS dmin, max(x) AS dmax
       |  FROM dgrid WHERE $basePred GROUP BY 1
       |), coderows AS (
       |  SELECT g.vec_id, CAST(g.dim0 AS BIGINT) AS dim,
       |         CASE WHEN p.dmax = p.dmin THEN CAST(0 AS BIGINT)
       |              ELSE LEAST(CAST(255 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
       |                   CAST(round(CAST(g.x - p.dmin AS DOUBLE) * 255.0
       |                   / CAST(p.dmax - p.dmin AS DOUBLE)) AS BIGINT)))
       |              END AS code
       |  FROM dgrid g JOIN params p ON CAST(g.dim0 AS BIGINT) = p.dim
       |)""".stripMargin

  /** Mirrors `Similarity.sqCodes`: the exploded (vec, dim) code table. */
  def sqCodesSql: String =
    embQuantCte + sqCtes() +
      """
        |SELECT vec_id, dim, code FROM coderows ORDER BY vec_id, dim""".stripMargin

  /** Mirrors `Similarity.sqRecall`: SDC top-k over the code vectors vs
    * the exact-L2 truth — the pqRecallSql audit spelling with the SQ
    * codes CTE.
    */
  def sqRecallSql(queryIds: Seq[Long], k: Int, dims: Int = 64): String =
    embQuantCte + sqCtes() +
      s""", codes AS (
         |  SELECT vec_id, list(code ORDER BY dim) AS cv
         |  FROM coderows GROUP BY vec_id
         |), cn AS (
         |  SELECT vec_id, cv,
         |         CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2
         |  FROM codes
         |), cq AS (
         |  SELECT vec_id AS q_id, cv AS qv, cn2 AS qn2
         |  FROM cn WHERE vec_id IN (${queryIds.mkString(",")})
         |), sd0 AS (
         |  SELECT cq.q_id, c.vec_id,
         |         c.cn2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.cv[i+1]*cq.qv[i+1])) + cq.qn2 AS d2
         |  FROM cn c CROSS JOIN cq WHERE c.vec_id <> cq.q_id
         |), ts AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY d2, vec_id) AS rn
         |    FROM sd0) WHERE rn <= $k
         |), q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM e WHERE vec_id IN (${queryIds.mkString(",")})
         |), bl0 AS (
         |  SELECT q.q_id, c.vec_id,
         |         c.n2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.vq[i+1]*q.qv[i+1])) + q.qn2 AS d2
         |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
         |), bl AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY d2, vec_id) AS rn
         |    FROM bl0) WHERE rn <= $k
         |), agg AS (
         |  SELECT bl.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN ts.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM bl LEFT JOIN ts
         |    ON bl.q_id = ts.q_id AND bl.vec_id = ts.vec_id
         |  GROUP BY bl.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
         |FROM agg ORDER BY q_id""".stripMargin

  /** Mirrors `Similarity.ivfSearch` with `IvfCodec.Sdc`
    * and `CellRule.Own`: cell-pruned SDC over the SQ
    * codes — the sqRecallSql machinery with the label equi-join.
    */
  def ivfSqTopKSql(queryIds: Seq[Long], k: Int, dims: Int = 64): String =
    embQuantCte + sqCtes() +
      s""", codes AS (
         |  SELECT vec_id, list(code ORDER BY dim) AS cv
         |  FROM coderows GROUP BY vec_id
         |), cn AS (
         |  SELECT e.vec_id, e.label, codes.cv,
         |         CAST(list_sum(list_transform(codes.cv, x -> x*x))
         |              AS BIGINT) AS cn2
         |  FROM codes JOIN e ON codes.vec_id = e.vec_id
         |), cq AS (
         |  SELECT vec_id AS q_id, label AS q_label, cv AS qv, cn2 AS qn2
         |  FROM cn WHERE vec_id IN (${queryIds.mkString(",")})
         |), sd0 AS (
         |  SELECT cq.q_id, c.vec_id,
         |         c.cn2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.cv[i+1]*cq.qv[i+1])) + cq.qn2 AS d2
         |  FROM cn c JOIN cq ON c.label = cq.q_label
         |  WHERE c.vec_id <> cq.q_id
         |), ranked AS (
         |  SELECT q_id, vec_id, CAST(d2 AS BIGINT) AS d2,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY d2, vec_id) AS rn
         |  FROM sd0
         |)
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, d2
         |FROM ranked WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.ivfSearch` with `IvfCodec.Sdc`
    * and `CellRule.Nearest(n)`: the ivfSqTopKSql machinery
    * with the stored-cell equi-join replaced by the [[probeCtes]]
    * nearest-cells prefix — cell ranking in the original quantized
    * space, SDC scoring in the code space.
    */
  def ivfSqProbedTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
                         dims: Int = 64): String =
    embQuantCte + sqCtes() + probeCtes(queryIds, nprobe) +
      sqProbedTail(queryIds, k, dims)

  /** Mirrors `Similarity.searchIvfIndex` over an APPENDED
    * `IvfCodec.Sdc` index (x154): SQ params and coarse centroids
    * learned from the BASE subset only (`basePred` — the frozen
    * quantizer `buildIvfIndex` persisted),
    * codes and search over ALL vectors — exactly what build + append
    * + search computes, restated from the raw table.
    */
  def ivfSqAppendTopKSql(queryIds: Seq[Long], k: Int, nprobe: Int,
                         basePred: String, dims: Int = 64): String =
    embQuantCte + sqCtes(basePred) + probeCtes(queryIds, nprobe, basePred) +
      sqProbedTail(queryIds, k, dims)

  /** The shared scoring/ranking tail of the probed SDC oracles. */
  private def sqProbedTail(queryIds: Seq[Long], k: Int,
                           dims: Int): String =
      s""", codes AS (
         |  SELECT vec_id, list(code ORDER BY dim) AS cv
         |  FROM coderows GROUP BY vec_id
         |), cn AS (
         |  SELECT e.vec_id, e.label, codes.cv,
         |         CAST(list_sum(list_transform(codes.cv, x -> x*x))
         |              AS BIGINT) AS cn2
         |  FROM codes JOIN e ON codes.vec_id = e.vec_id
         |), cq AS (
         |  SELECT vec_id AS q_id, cv AS qv, cn2 AS qn2
         |  FROM cn WHERE vec_id IN (${queryIds.mkString(",")})
         |), sd0 AS (
         |  SELECT cq.q_id, c.vec_id,
         |         c.cn2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.cv[i+1]*cq.qv[i+1])) + cq.qn2 AS d2
         |  FROM cn c
         |  JOIN pcells p ON c.label = p.c_label
         |  JOIN cq ON cq.q_id = p.q_id
         |  WHERE c.vec_id <> cq.q_id
         |), ranked AS (
         |  SELECT q_id, vec_id, CAST(d2 AS BIGINT) AS d2,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY d2, vec_id) AS rn
         |  FROM sd0
         |)
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, d2
         |FROM ranked WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.ivfRecallCurve` with
    * `IvfCodec.Sdc`: un-pruned SDC truth
    * once, the probed SDC search once over the whole probe dimension
    * (crk prefixes), recall per (nprobe, query).
    */
  def sqProbedCurveSql(queryIds: Seq[Long], k: Int, nprobes: Seq[Int],
                       dims: Int = 64): String =
    embQuantCte + sqCtes() + probeCtesMulti(queryIds, nprobes) +
      s""", codes AS (
         |  SELECT vec_id, list(code ORDER BY dim) AS cv
         |  FROM coderows GROUP BY vec_id
         |), cn AS (
         |  SELECT e.vec_id, e.label, codes.cv,
         |         CAST(list_sum(list_transform(codes.cv, x -> x*x))
         |              AS BIGINT) AS cn2
         |  FROM codes JOIN e ON codes.vec_id = e.vec_id
         |), cq AS (
         |  SELECT vec_id AS q_id, cv AS qv, cn2 AS qn2
         |  FROM cn WHERE vec_id IN (${queryIds.mkString(",")})
         |), sd0 AS (
         |  SELECT cq.q_id, c.vec_id,
         |         c.cn2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.cv[i+1]*cq.qv[i+1])) + cq.qn2 AS d2
         |  FROM cn c CROSS JOIN cq WHERE c.vec_id <> cq.q_id
         |), ts AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY d2, vec_id) AS rn
         |    FROM sd0) WHERE rn <= $k
         |), pd0 AS (
         |  SELECT pm.nprobe, cq.q_id, c.vec_id,
         |         c.cn2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.cv[i+1]*cq.qv[i+1])) + cq.qn2 AS d2
         |  FROM cn c
         |  JOIN pcellsm pm ON c.label = pm.c_label
         |  JOIN cq ON cq.q_id = pm.q_id
         |  WHERE c.vec_id <> cq.q_id
         |), tp AS (
         |  SELECT nprobe, q_id, vec_id FROM (
         |    SELECT nprobe, q_id, vec_id,
         |           row_number() OVER (PARTITION BY nprobe, q_id
         |                              ORDER BY d2, vec_id) AS rn
         |    FROM pd0) WHERE rn <= $k
         |), agg AS (
         |  SELECT p.nprobe, ts.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN tp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM ts CROSS JOIN probesv p
         |  LEFT JOIN tp ON tp.nprobe = p.nprobe AND ts.q_id = tp.q_id
         |    AND ts.vec_id = tp.vec_id
         |  GROUP BY p.nprobe, ts.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall,
         |       nprobe
         |FROM agg ORDER BY nprobe, q_id""".stripMargin

  /** Mirrors `Similarity.ivfRecallCurve` with
    * `IvfCodec.Adc()`: the adcCtes un-pruned
    * chain is the truth, the probed scoring joins the pcellsm
    * prefixes, recall per (nprobe, query).
    */
  def adcProbedCurveSql(queryIds: Seq[Long], k: Int, nprobes: Seq[Int],
                        m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) + probeCtesMulti(queryIds, nprobes) +
      adcCtes(queryIds, m, dims) +
      s""", scp AS (
         |  SELECT pm.nprobe, dt.q_id, c.vec_id,
         |         CAST(sum(dt.qd2) AS BIGINT) AS adc_d2
         |  FROM codes c
         |  JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  JOIN e el ON el.vec_id = c.vec_id
         |  JOIN pcellsm pm ON pm.q_id = dt.q_id AND el.label = pm.c_label
         |  WHERE c.vec_id <> dt.q_id
         |  GROUP BY pm.nprobe, dt.q_id, c.vec_id
         |), tpp AS (
         |  SELECT nprobe, q_id, vec_id FROM (
         |    SELECT nprobe, q_id, vec_id,
         |           row_number() OVER (PARTITION BY nprobe, q_id
         |                              ORDER BY adc_d2, vec_id) AS rn
         |    FROM scp) WHERE rn <= $k
         |), tu AS (
         |  SELECT q_id, vec_id FROM tadc WHERE rn <= $k
         |), agg AS (
         |  SELECT p.nprobe, tu.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN tpp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM tu CROSS JOIN probesv p
         |  LEFT JOIN tpp ON tpp.nprobe = p.nprobe AND tu.q_id = tpp.q_id
         |    AND tu.vec_id = tpp.vec_id
         |  GROUP BY p.nprobe, tu.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall,
         |       nprobe
         |FROM agg ORDER BY nprobe, q_id""".stripMargin

  def l2TopKSql(queryIds: Seq[Long], k: Int, dims: Int = 64): String =
    embQuantCte +
      s""", q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM e WHERE vec_id IN (${queryIds.mkString(",")})
         |), bl0 AS (
         |  SELECT q.q_id, c.vec_id,
         |         c.n2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.vq[i+1]*q.qv[i+1])) + q.qn2 AS d2
         |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
         |), bl AS (
         |  SELECT q_id, vec_id, CAST(d2 AS BIGINT) AS d2,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY d2, vec_id) AS rn
         |  FROM bl0
         |)
         |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rank, d2
         |FROM bl WHERE rn <= $k ORDER BY q_id, rank""".stripMargin

  /** Mirrors `Similarity.pqRecall`: ADC top-k vs exact-L2 top-k,
    * the annRecallSql audit spelling.
    */
  def pqRecallSql(queryIds: Seq[Long], k: Int,
                  m: Int = 8, dims: Int = 64): String =
    pqCte(m, dims) + adcCtes(queryIds, m, dims) +
      s""", q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM e WHERE vec_id IN (${queryIds.mkString(",")})
         |), bl0 AS (
         |  SELECT q.q_id, c.vec_id,
         |         c.n2 - 2*list_sum(list_transform(range($dims),
         |           i -> c.vq[i+1]*q.qv[i+1])) + q.qn2 AS d2
         |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
         |), bl AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY d2, vec_id) AS rn
         |    FROM bl0) WHERE rn <= $k
         |), ta AS (
         |  SELECT q_id, vec_id FROM tadc WHERE rn <= $k
         |), agg AS (
         |  SELECT bl.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM bl LEFT JOIN ta
         |    ON bl.q_id = ta.q_id AND bl.vec_id = ta.vec_id
         |  GROUP BY bl.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
         |FROM agg ORDER BY q_id""".stripMargin

  /** Mirrors `TimeSeriesOps.eventFunnel` — the same first-touch step
    * chain in µs (engine ns are exactly µs·1000, so the strict/
    * within-window comparisons decide identically).
    */
  def eventFunnelSql(steps: Seq[String], windowUs: Long): String = {
    // mirror the engine's require — an undersized list would otherwise
    // emit a dangling ',' that only fails at oracle-sweep time, far
    // from the bad call site; the quote check guards the string splice
    require(steps.size >= 2 && steps.distinct == steps && windowUs > 0,
      s"need >= 2 distinct steps and a positive window, got $steps / $windowUs")
    require(steps.forall(!_.contains("'")),
      s"step names are spliced into SQL literals, got $steps")
    val stepCtes = steps.tail.zipWithIndex.map { case (st, i) =>
      s"s${i + 2} AS (" +
        s"\n  SELECT e.user_id, min(e.t) AS t" +
        s"\n  FROM e JOIN s${i + 1} p ON e.user_id = p.user_id" +
        s"\n  WHERE e.event_type = '$st' AND e.t > p.t" +
        s" AND e.t <= p.t + $windowUs" +
        s"\n  GROUP BY e.user_id\n)"
    }.mkString(", ")
    val countRows = steps.zipWithIndex.map { case (st, i) =>
      s"SELECT ${i + 1} AS step, '$st' AS event_type, " +
        s"CAST(count(*) AS BIGINT) AS n_users FROM s${i + 1}"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
       |), s1 AS (
       |  SELECT user_id, min(t) AS t FROM e
       |  WHERE event_type = '${steps.head}' GROUP BY user_id
       |), $stepCtes,
       |c AS (
       |  $countRows
       |), b AS (SELECT n_users AS n_base FROM c WHERE step = 1)
       |SELECT CAST(step AS BIGINT) AS step, event_type, n_users,
       |       CASE WHEN n_base > 0
       |            THEN CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE)
       |            ELSE 0.0 END AS frac_of_first
       |FROM c CROSS JOIN b ORDER BY step""".stripMargin
  }

  /** Mirrors `TimeSeriesOps.retentionCohorts` — bucket arithmetic in
    * µs (`//` floor ≡ the engine's ns `div` on the non-negative
    * domain, and engine ns buckets = µs buckets exactly).
    */
  def retentionCohortsSql(bucketUs: Long): String =
    s"""WITH a AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $bucketUs AS bucket
       |  FROM events
       |), c AS (
       |  SELECT user_id, min(bucket) AS cohort_bucket FROM a GROUP BY user_id
       |), cells AS (
       |  SELECT c.cohort_bucket,
       |         CAST(a.bucket - c.cohort_bucket AS BIGINT) AS bucket_offset,
       |         CAST(count(*) AS BIGINT) AS n_users
       |  FROM a JOIN c ON a.user_id = c.user_id
       |  GROUP BY 1, 2
       |), b AS (
       |  SELECT cohort_bucket, n_users AS n_cohort
       |  FROM cells WHERE bucket_offset = 0
       |)
       |SELECT CAST(cells.cohort_bucket AS BIGINT) AS cohort_bucket,
       |       cells.bucket_offset, cells.n_users,
       |       CAST(cells.n_users AS DOUBLE) / CAST(b.n_cohort AS DOUBLE)
       |         AS retention
       |FROM cells JOIN b USING (cohort_bucket)
       |ORDER BY cohort_bucket, bucket_offset""".stripMargin

  /** Shared by q32 (batch window fn) and q50 (watermarked append-mode
    * streaming) — the character-identical oracle IS the equivalence
    * claim between the two execution modes.
    */
  val tumblingWindowSql: String =
    """SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS win_start_us,
      |       event_type, count(*) AS cnt,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  def slidingWindowSql: String =
    """WITH pts AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS value_c,
      |         epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS b6
      |  FROM events
      |), w AS (
      |  SELECT event_type, value_c,
      |         unnest([b6, b6 - 21600000000]) AS win_start_us
      |  FROM pts
      |)
      |SELECT win_start_us, event_type, count(*) AS cnt,
      |       CAST(sum(value_c) AS DOUBLE)/100.0 AS sum_v
      |FROM w GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  def sessionWindowSql: String =
    """WITH o AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   <= INTERVAL 30 MINUTES THEN 0 ELSE 1 END AS brk
      |  FROM events
      |), g AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o
      |)
      |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
      |       epoch_us(max(ts)) + 1800000000 AS session_end_us,
      |       count(*) AS cnt
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Runs VERBATIM in both engines (dialect-neutral ANSI SQL) — the
    * engine's `spark.sql(...)` text surface checked against DuckDB
    * executing the *same string*.
    */
  val verbatimTpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Runs VERBATIM in both engines: disjoint GROUPING SETS (not the
    * ROLLUP/CUBE expansions) with grouping() disambiguation of the
    * NULL group keys.
    */
  val groupingSetsSql: String =
    """SELECT CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |       l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       count(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  def textQualitySql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      |  FROM documents
      |), u AS (
      |  SELECT doc_id, lang, n_chars,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
      |         CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_cnt
      |  FROM t
      |)
      |SELECT doc_id, lang, n_chars, n_tokens,
      |       CAST(n_chars - (n_tokens - 1) AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS avg_token_len,
      |       CAST(stop_cnt AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stopword_ratio,
      |       CAST(distinct_cnt AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS ttr,
      |       $qualityScoreExpr AS quality_score
      |FROM u ORDER BY doc_id""".stripMargin

  def langIdSql: String = {
    val profiles = Seq(
      "de" -> Seq("table", "key", "hash"),
      "en" -> Seq("the", "a", "fast"),
      "es" -> Seq("data", "row", "slow"),
      "fr" -> Seq("stream", "filter", "merge"),
      "zh" -> Seq("window", "spark", "batch"))
    val scores = profiles.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_intersect(toks, [$lst])) AS BIGINT) AS score_$l"
    }.mkString(",\n         ")
    val all = profiles.map { case (l, _) => s"score_$l" }.mkString(", ")
    val cases = profiles.map { case (l, _) =>
      s"WHEN score_$l = greatest($all) THEN '$l'"
    }.mkString("\n            ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, lang,
       |         $scores
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |       CASE WHEN greatest($all) = 0 THEN 'und'
       |            $cases
       |            ELSE 'und' END AS predicted_lang,
       |       greatest($all) AS lang_score
       |FROM s ORDER BY doc_id""".stripMargin
  }

  def tokenCountSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpeish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def fingerprintSql: String = {
    val gram = (0 until 5).map(k => s"toks[i+${k + 1}]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |)
       |SELECT doc_id, md5(text) AS content_fp,
       |       CASE WHEN len(toks) >= 5
       |            THEN list_min(list_transform(range(len(toks)-4), i -> md5($gram)))
       |            ELSE NULL END AS winnow_fp
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** The fixture payloads are utf-8 text, so the engine's image header
    * probe must report "not an image" for every row — the -1/-1/NULL
    * constants are a real check that the probe never false-positives on
    * text bytes (a stray PNG magic in a document would break the hash).
    */
  def multimodalSql: String =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       md5(text) AS sha,
      |       CAST(CASE WHEN length(text) = 0 THEN -1
      |                 ELSE ascii(substr(text, 1, 1)) END AS BIGINT) AS head_byte,
      |       CAST(-1 AS BIGINT) AS width,
      |       CAST(-1 AS BIGINT) AS height,
      |       CAST(NULL AS VARCHAR) AS codec
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The frame-construction CTEs shared by [[frameSampleSql]] and
    * [[frameDedupSql]] — ONE spelling of the slicing rule, mirroring
    * the engine side where `frameDedup` calls `frameSample`. Yields
    * `f(doc_id, frame_idx, frame)` for sampled frames. The engine
    * slices BYTES of the utf-8 blob; DuckDB has no BLOB substring, so
    * this slices CHARACTERS — equal because the fixture text is pure
    * ASCII (verified: octet_length(encode(text)) == length(text) on
    * every row at both SFs; a non-ASCII regeneration would fail these
    * rows loudly, never silently). DuckDB md5(VARCHAR) hashes the
    * utf-8 bytes, matching Spark's md5(BINARY) under the same
    * property.
    */
  private def frameCte(frameBytes: Int, stride: Int): String =
    s"""WITH m AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, frame_idx,
       |         substring(text, CAST(frame_idx * $frameBytes + 1 AS BIGINT),
       |                   $frameBytes) AS frame
       |  FROM (SELECT doc_id, text,
       |               unnest(range(0, (n + ${frameBytes - 1}) // $frameBytes,
       |                            $stride)) AS frame_idx
       |        FROM m WHERE n > 0)
       |)""".stripMargin

  /** Mirrors `Multimodal.frameSample` over `asMediaTable(documents)`
    * (see [[frameCte]] for the verified-ASCII byte/char equivalence).
    */
  def frameSampleSql(frameBytes: Int = 64, stride: Int = 3): String =
    frameCte(frameBytes, stride) +
      s"""
         |SELECT doc_id, frame_idx,
         |       CAST(frame_idx * $frameBytes AS BIGINT) AS offset_bytes,
         |       CAST(length(frame) AS BIGINT) AS frame_bytes,
         |       md5(frame) AS frame_md5
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Mirrors `Multimodal.frameDedup` — the [[frameCte]] construction
    * at the same (frameBytes, stride), min-owner per frame md5,
    * per-doc counts.
    */
  def frameDedupSql(frameBytes: Int = 64, stride: Int = 1): String =
    frameCte(frameBytes, stride) +
      s""", fm AS (
         |  SELECT doc_id, md5(frame) AS frame_md5 FROM f
         |), o AS (
         |  SELECT frame_md5, min(doc_id) AS owner_id FROM fm GROUP BY frame_md5
         |), agg AS (
         |  SELECT fm.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_frames,
         |         CAST(count(DISTINCT fm.frame_md5) AS BIGINT) AS n_distinct,
         |         CAST(count(DISTINCT CASE WHEN o.owner_id = fm.doc_id
         |                                  THEN fm.frame_md5 END) AS BIGINT)
         |           AS n_owned
         |  FROM fm JOIN o USING (frame_md5)
         |  GROUP BY fm.doc_id
         |)
         |SELECT doc_id, n_frames, n_distinct, n_owned,
         |       CAST(n_owned AS DOUBLE) / CAST(n_distinct AS DOUBLE)
         |         AS owned_frac
         |FROM agg ORDER BY doc_id""".stripMargin

  /** Mirrors `Multimodal.resizeStub` — every `factor`-th byte, spelled
    * as every `factor`-th character under the same verified-ASCII
    * fixture property as [[frameSampleSql]]; empty decimations
    * coalesce to md5('') exactly as the engine hashes a zero-length
    * byte array.
    */
  def mediaResizeSql(factor: Int = 4): String =
    s"""SELECT doc_id,
       |       CAST(length(text) AS BIGINT) AS orig_bytes,
       |       CAST((length(text) + ${factor - 1}) // $factor AS BIGINT)
       |         AS resized_bytes,
       |       md5(coalesce(list_aggregate(
       |         list_transform(range(0, length(text), $factor),
       |           i -> substring(text, CAST(i + 1 AS BIGINT), 1)),
       |         'string_agg', ''), '')) AS resized_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Positional-token CTE shared by the repetition / boilerplate
    * oracles (1-based `pos`; the engine's 0-based posexplode only has
    * to be internally consistent, positions never cross engines).
    */
  private val toksCte: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '),1) AS pos
      |  FROM documents)""".stripMargin

  /** Mirrors `TextAnalysis.repetitionScores`: per-doc n-gram counts via
    * the same lead-window construction; every ratio is one int/int IEEE
    * divide.
    */
  def repetitionScoresSql: String = {
    def gramSub(n: Int): String = {
      val leads = (1 until n).map(i => s"lead(tok,$i) OVER w").mkString(" || ' ' || ")
      s"""SELECT doc_id, tok || ' ' || $leads AS gram
         |    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)""".stripMargin
    }
    toksCte +
      s""", c2 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM (
         |    ${gramSub(2)})
         |  WHERE gram IS NOT NULL GROUP BY doc_id, gram),
         |t2 AS (SELECT doc_id,
         |              CAST(max(cnt) AS DOUBLE)/CAST(sum(cnt) AS DOUBLE) AS top2_ratio
         |       FROM c2 GROUP BY doc_id),
         |c5 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM (
         |    ${gramSub(5)})
         |  WHERE gram IS NOT NULL GROUP BY doc_id, gram),
         |t5 AS (SELECT doc_id,
         |              CAST(sum(CASE WHEN cnt>=2 THEN cnt ELSE 0 END) AS DOUBLE) /
         |                CAST(sum(cnt) AS DOUBLE) AS dup5_ratio
         |       FROM c5 GROUP BY doc_id),
         |ttr AS (SELECT doc_id,
         |               CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
         |                 CAST(len(string_split(text,' ')) AS DOUBLE) AS ttr
         |        FROM documents)
         |SELECT d.doc_id, t2.top2_ratio, t5.dup5_ratio, ttr.ttr
         |FROM documents d LEFT JOIN t2 USING(doc_id) LEFT JOIN t5 USING(doc_id)
         |JOIN ttr USING(doc_id)
         |ORDER BY doc_id""".stripMargin
  }

  /** Mirrors `TextAnalysis.boilerplateStrip(n=3, minDf)`: identical
    * frequent-gram set (exact df counts), identical covered-position
    * expansion, ordered rebuild via `string_agg(... ORDER BY pos)`.
    */
  def boilerplateStripSql(minDf: Long): String =
    toksCte +
      s""", gn AS (
         |  SELECT doc_id, pos, gram FROM (
         |    SELECT doc_id, pos,
         |           tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
         |    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |  WHERE gram IS NOT NULL),
         |freq AS (SELECT gram FROM gn GROUP BY gram
         |         HAVING count(DISTINCT doc_id) >= $minDf),
         |cov AS (SELECT DISTINCT gn.doc_id, gn.pos + o.o AS pos
         |        FROM gn JOIN freq USING (gram)
         |        CROSS JOIN (SELECT unnest([0,1,2]) AS o) o),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
         |         ANTI JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(r.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.piiRedact` over the SAME synthesized dirty
    * text (the fixture corpus is digit-free, so both sides append an
    * email, a phone, and an IP derived deterministically from doc
    * fields). A hash match therefore proves Java regex and RE2 agree
    * on the match spans, the counts, and the global replacement —
    * DuckDB's regexp_replace needs the explicit 'g' flag; Spark
    * replaces globally by default.
    */
  def piiRedactSql: String = {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    s"""WITH d AS (
       |  SELECT doc_id,
       |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |         '@example.com or call +1-555-' ||
       |         lpad(CAST(doc_id AS VARCHAR), 4, '0') ||
       |         ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |         CAST(n_chars % 256 AS VARCHAR) AS text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |       CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |       regexp_replace(regexp_replace(regexp_replace(text,
       |         '$EmailRe', '<EMAIL>', 'g'),
       |         '$PhoneRe', '<PHONE>', 'g'),
       |         '$Ipv4Re', '<IP>', 'g') AS clean_text
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Mirrors the x106 per-source data card: the same gated PII
    * synthesis (every third doc gains a contact line), per-row token
    * and PII counts, ONE grouped roll-up per source — every aggregate
    * BIGINT, the three rates one double division each.
    */
  def sourceDataCardSql(shortTokens: Long): String = {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    s"""WITH d AS (
       |  SELECT source,
       |         CASE WHEN doc_id % 3 = 0
       |              THEN text || ' contact user' ||
       |                   CAST(doc_id AS VARCHAR) || '@example.com'
       |              ELSE text END AS text
       |  FROM documents
       |), m AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(regexp_extract_all(text, '$EmailRe')) +
       |              len(regexp_extract_all(text, '$PhoneRe')) +
       |              len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT)
       |           AS n_pii
       |  FROM d
       |), g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |         CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       |         CAST(sum(CASE WHEN n_tokens < $shortTokens THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_short_docs,
       |         CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_pii_docs,
       |         CAST(sum(n_pii) AS BIGINT) AS n_pii_spans
       |  FROM m GROUP BY source
       |)
       |SELECT source, n_docs, total_tokens, min_tokens, max_tokens,
       |       CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |         AS mean_tokens,
       |       n_short_docs,
       |       CAST(n_short_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |         AS short_rate,
       |       n_pii_docs, n_pii_spans,
       |       CAST(n_pii_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |         AS pii_rate
       |FROM g ORDER BY source""".stripMargin
  }

  /** Mirrors `TextAnalysis.corpusFreqScore`: exact per-token document
    * frequency, per-doc Σ df and token count (both BIGINT — DuckDB's
    * window-free sum still widens to HUGEINT, hence the casts), and
    * the one double division in the same order as the Spark side.
    */
  def corpusFreqScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), df AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM toks GROUP BY tok
      |), j AS (
      |  SELECT t.doc_id, df.df FROM toks t JOIN df USING (tok)
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(sum(df) AS BIGINT) AS df_sum
      |  FROM j GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, df_sum,
      |       CAST(df_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_df
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.importanceWeights`: the md5 bucket is the
    * splitCountsSql spelling (≡ Md5Longs field (1,4)), counts are
    * exact, the weight is one double division of the BIGINT sums.
    */
  def importanceWeightsSql(targetLang: String, buckets: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, lang,
       |         CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT)
       |           % $buckets AS bkt
       |  FROM t
       |), src AS (
       |  SELECT bkt, CAST(count(*) AS BIGINT) AS src_n FROM b GROUP BY bkt
       |), tgt AS (
       |  SELECT bkt, CAST(count(*) AS BIGINT) AS tgt_n FROM b
       |  WHERE lang = '$targetLang' GROUP BY bkt
       |), dist AS (
       |  SELECT src.bkt, src_n, coalesce(tgt_n, CAST(0 AS BIGINT)) AS tgt_n
       |  FROM src LEFT JOIN tgt ON src.bkt = tgt.bkt
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(tgt_n) AS BIGINT) AS tgt_sum,
       |         CAST(sum(src_n) AS BIGINT) AS src_sum
       |  FROM b JOIN dist USING (bkt) GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, tgt_sum, src_sum,
       |       CAST(tgt_sum AS DOUBLE) / CAST(src_sum AS DOUBLE) AS weight
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.chunkWindows`: same start grid, short tail
    * chunks, md5 of the space-joined window.
    */
  def chunkWindowsSql(size: Int, stride: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |), s AS (
       |  SELECT doc_id, len(ts) AS n_toks, ts,
       |         unnest(generate_series(0, len(ts) - 1, $stride)) AS st
       |  FROM t
       |)
       |SELECT doc_id, CAST(st // $stride AS BIGINT) AS chunk_idx,
       |       CAST(least($size, n_toks - st) AS BIGINT) AS n_chunk_tokens,
       |       md5(array_to_string(list_slice(ts, st + 1, st + $size), ' '))
       |         AS chunk_fp
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** Mirrors `TextAnalysis.paragraphDedup(k=10)` over text with a
    * shared 10-token header prepended on BOTH sides — the header makes
    * chunk 0 identical across every document, so the dedup genuinely
    * fires (the synthetic corpus has no natural duplicate windows) and
    * the oracle proves first-occurrence selection, within-doc ordering
    * of the rebuild, and the empty-document convention.
    */
  def paragraphDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         'spark dedup header alpha beta gamma delta epsilon zeta eta ' ||
      |           text AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      |cl AS (SELECT doc_id,
      |         list_transform(range(CAST(ceil(len(ts) / 10.0) AS BIGINT)),
      |           i -> array_to_string(list_slice(ts, i * 10 + 1, i * 10 + 10), ' '))
      |           AS chunks
      |       FROM toks),
      |chunks AS (SELECT doc_id, unnest(chunks) AS chunk,
      |                  CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx
      |           FROM cl),
      |kept AS (SELECT doc_id, chunk_idx, chunk FROM (
      |           SELECT doc_id, chunk_idx, chunk,
      |                  row_number() OVER (PARTITION BY chunk
      |                                     ORDER BY doc_id, chunk_idx) AS rn
      |           FROM chunks) WHERE rn = 1),
      |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |               string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
      |        FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(ceil(len(t.ts) / 10.0) AS BIGINT) AS n_chunks,
      |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       coalesce(r.dedup_text, '') AS dedup_text
      |FROM toks t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Mirrors `TextAnalysis.tfidfTopTerms`: df from the distinct
    * (doc, term) tf rows, score = (tf·N)/df as one double division of
    * exact int64 components, deterministic (score DESC, term) ranking.
    */
  def tfidfTopTermsSql(k: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM t GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), nd AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
       |), s AS (
       |  SELECT doc_id, term, tf, df,
       |         CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC,
       |                    term) AS rnk
       |  FROM tf JOIN df USING (term) CROSS JOIN nd
       |)
       |SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rank, score
       |FROM s WHERE rnk <= $k ORDER BY doc_id, rank""".stripMargin

  /** Mirrors `TextAnalysis.urlHostFilter` over the same synthesized
    * URL (the fixture has no url column; BOTH sides build
    * `https://<source>.example.com/d/<doc_id>?ref=idx` so the regexp
    * capture and the blocklist decision are genuinely exercised).
    */
  def urlHostFilterSql(blocked: Seq[String]): String = {
    // an empty list would render invalid "NOT IN ()" SQL; quotes in a
    // host would break the statement — guard and escape (SQL doubles
    // single quotes)
    require(blocked.nonEmpty, "urlHostFilterSql needs a non-empty blocklist")
    val inList = blocked.map(b => s"'${b.replace("'", "''")}'").mkString(", ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |         'https://' || source || '.example.com/d/' ||
       |           CAST(doc_id AS VARCHAR) || '?ref=idx' AS url
       |  FROM documents
       |), h AS (
       |  SELECT doc_id,
       |         nullif(regexp_extract(url,
       |           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1), '') AS host
       |  FROM u
       |)
       |SELECT doc_id, host,
       |       CAST(host IS NOT NULL AND host NOT IN ($inList)
       |            AS BIGINT) AS kept
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Mirrors `TextAnalysis.stratifiedSample(lang, k)` — the oracle runs
    * the ONE-window spelling; the engine's two-phase bucket top-k must
    * produce the identical rows (top-k of bucket-top-ks = global top-k).
    */
  def stratifiedSampleSql(k: Int): String =
    s"""WITH r AS (
       |  SELECT lang AS stratum, doc_id,
       |         CAST(concat('0x', substr(md5('smp:' || CAST(doc_id AS VARCHAR)),
       |                                  1, 15)) AS BIGINT) AS rk
       |  FROM documents
       |), s AS (
       |  SELECT stratum, doc_id, rk,
       |         row_number() OVER (PARTITION BY stratum ORDER BY rk, doc_id) AS rn
       |  FROM r
       |)
       |SELECT stratum, doc_id, rk, CAST(rn AS BIGINT) AS sample_rank
       |FROM s WHERE rn <= $k ORDER BY stratum, sample_rank""".stripMargin

  /** Mirrors `Dedup.noveltyRatio` with the x46 reference convention
    * (`doc_id % 20 = 0`): per-doc distinct-shingle counts, LEFT join so
    * zero-hit (fully novel) docs stay, one double division.
    */
  def noveltyRatioSql: String =
    shCte(3) +
      """
        |, ref AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0
        |), cand AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0
        |), agg AS (
        |  SELECT cand.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_seen
        |  FROM cand LEFT JOIN ref ON cand.g = ref.g
        |  GROUP BY cand.doc_id
        |)
        |SELECT doc_id, n_grams, n_seen,
        |       CAST(n_grams - n_seen AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |         AS novelty
        |FROM agg ORDER BY doc_id""".stripMargin

  /** Mirrors `Similarity.kmeansIter`: same quantized corpus CTE,
    * per-(label, dim) truncated-mean centroids (DuckDB `//` truncates
    * toward zero exactly like Spark `div` — verified on negatives),
    * exact int64 squared distances, argmin with the (d2, label)
    * tie-break.
    */
  /** Per-cell truncated-mean centroid CTEs (after `cosineCte`) —
    * `centn(c_label, cvec, cn2)`. Shared by the Lloyd assignment
    * ([[kmeansIterSql]]/[[ivfLearnedSql]]) and the multi-probe cell
    * ranking ([[ivfMultiProbeSql]], which needs NO assignment).
    */
  private val centroidCtes: String =
    s""", dims AS (
       |  SELECT label, unnest(vq) AS v, generate_subscripts(vq, 1) AS dim
       |  FROM n
       |), cd AS (
       |  SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM dims GROUP BY label, dim
       |), cent AS (
       |  SELECT label, list(s // cnt ORDER BY dim) AS cvec
       |  FROM cd GROUP BY label
       |), centn AS (
       |  SELECT label AS c_label, cvec,
       |         CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT)
       |           AS cn2
       |  FROM cent
       |)""".stripMargin

  /** The Lloyd exact-distance assignment over [[centroidCtes]]'
    * centroids; `best` holds the argmin (rn = 1).
    */
  private val kmeansCtes: String =
    centroidCtes +
      s""", asgn AS (
         |  SELECT vec_id, n.label AS old_label, c_label,
         |         CAST(n2 - 2*list_sum(list_transform(range(len(vq)),
         |                i -> vq[i+1]*cvec[i+1])) + cn2 AS BIGINT) AS d2
         |  FROM n CROSS JOIN centn
         |), best AS (
         |  SELECT vec_id, old_label, c_label, d2,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY d2, c_label) AS rn
         |  FROM asgn
         |)""".stripMargin

  def kmeansIterSql: String =
    cosineCte + kmeansCtes +
      """
        |SELECT vec_id, CAST(old_label AS BIGINT) AS old_label,
        |       CAST(c_label AS BIGINT) AS new_label, d2,
        |       old_label <> c_label AS moved
        |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Mirrors `Similarity.kmeansInertia`: the Lloyd assignment's
    * argmin rows aggregated per post-assignment cell — exact int64
    * inertia, one double division for the mean.
    */
  def kmeansInertiaSql: String =
    cosineCte + kmeansCtes +
      """
        |SELECT CAST(c_label AS BIGINT) AS label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(d2) AS BIGINT) AS inertia,
        |       CAST(sum(d2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_d2
        |FROM best WHERE rn = 1 GROUP BY c_label ORDER BY label""".stripMargin

  /** Mirrors the x94 composition: relabel the corpus with the Lloyd
    * step's assignment, then run the x25 IVF top-k over the LEARNED
    * cells — the full learn-then-search pipeline in one statement.
    */
  def ivfLearnedSql(queryIds: Seq[Long], k: Int): String =
    cosineCte + kmeansCtes +
      s""", rl AS (
         |  SELECT n.vec_id, b.c_label AS label, n.vq, n.n2
         |  FROM n JOIN (SELECT vec_id, c_label FROM best WHERE rn = 1) b
         |    USING (vec_id)
         |), q AS (
         |  SELECT vec_id AS q_id, label AS q_label, vq AS qv, n2 AS qn2
         |  FROM rl WHERE vec_id IN (${queryIds.mkString(",")})
         |), cand AS (
         |  SELECT q_id, rl.vec_id, vq, qv, n2, qn2
         |  FROM rl JOIN q ON rl.label = q.q_label WHERE rl.vec_id <> q_id
         |)""".stripMargin + cosineTail(k)

  /** Mirrors the x93 host-rank query: same synthesized distinct edge
    * list, two damped power-iteration steps in exact int64 arithmetic
    * (`//` ≡ `div` — every operand non-negative here).
    */
  def hostRankSql: String = {
    val S = graft.operators.HostGraph.Scale
    def iter(prev: String, c: String, r: String): String =
      s"""$c AS (
         |  SELECT e.dst AS host,
         |         CAST(sum($prev.rank // d.out_deg) AS BIGINT) AS in_sum
         |  FROM e JOIN deg d USING (src) JOIN $prev ON $prev.host = e.src
         |  GROUP BY e.dst
         |), $r AS (
         |  SELECT h.host,
         |         CAST((15 * $S + 85 * coalesce($c.in_sum, 0)) // 100
         |              AS BIGINT) AS rank
         |  FROM $prev h LEFT JOIN $c USING (host)
         |)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT source || '.example.com' AS src,
       |         'src' || CAST((CAST(substr(source, 4) AS INT) * 3
       |                        + doc_id % 5) % 20 AS VARCHAR)
       |               || '.example.com' AS dst
       |  FROM documents
       |), hosts AS (
       |  SELECT DISTINCT host FROM (
       |    SELECT src AS host FROM e UNION ALL SELECT dst FROM e)
       |), r0 AS (
       |  SELECT host, CAST($S AS BIGINT) AS rank FROM hosts
       |), deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY src
       |), ${iter("r0", "c1", "r1")}, ${iter("r1", "c2", "r2")}
       |SELECT host, rank FROM r2 ORDER BY host""".stripMargin
  }

  /** Mirrors the x95 multi-probe IVF: the shared centroid CTEs, each
    * query's `nprobe` nearest cells by exact int64 squared distance
    * (ties to the lower label), then the standard top-k tail over the
    * probed cells' members.
    */
  def ivfMultiProbeSql(queryIds: Seq[Long], k: Int, nprobe: Int): String =
    cosineCte + centroidCtes +
      s""", qc AS (
         |  SELECT n.vec_id AS q_id, n.vq AS qv, n.n2 AS qn2, c_label,
         |         row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |           CAST(n2 - 2*list_sum(list_transform(range(len(vq)),
         |                  i -> vq[i+1]*cvec[i+1])) + cn2 AS BIGINT),
         |           c_label) AS crk
         |  FROM n CROSS JOIN centn
         |  WHERE n.vec_id IN (${queryIds.mkString(",")})
         |), probed AS (
         |  SELECT q_id, qv, qn2, c_label FROM qc WHERE crk <= $nprobe
         |), cand AS (
         |  SELECT p.q_id, n.vec_id, n.vq, p.qv, n.n2, p.qn2
         |  FROM n JOIN probed p ON n.label = p.c_label
         |  WHERE n.vec_id <> p.q_id
         |)""".stripMargin + cosineTail(k)

  /** Shared x85/x89/x100/x101 plan CTEs under the fixture weight
    * convention (weight = src-number % 3 + 1): per-source roll-up,
    * per-source supply cap (`capPct` percent of the token count —
    * 100 = the downsample-only planner), then W, T* and keep via
    * window functions over the tiny per-source table. Every
    * intermediate CASTs back to BIGINT — DuckDB widens sums and
    * integer products to HUGEINT, which would otherwise leak int128
    * into the compared schema. `//` ≡ Spark `DIV` (all operands
    * positive).
    */
  private def mixturePlanCtes(capPct: Long): String =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT source, n_docs, n_tokens,
       |         CAST((CAST(substr(source, 4) AS INT) % 3) + 1 AS BIGINT)
       |           AS weight,
       |         CAST(n_tokens * $capPct // 100 AS BIGINT) AS cap_tokens
       |  FROM per
       |), t AS (
       |  SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total FROM w
       |), t2 AS (
       |  SELECT *,
       |         CAST(min(cap_tokens * w_total // weight) OVER () AS BIGINT)
       |           AS t_star
       |  FROM t
       |), plan AS (
       |  SELECT *, CAST(weight * t_star // w_total AS BIGINT) AS keep_tokens
       |  FROM t2
       |)""".stripMargin

  def mixtureWeightsSql: String =
    mixturePlanCtes(100) +
      """
        |SELECT source, weight, n_docs, n_tokens, t_star, keep_tokens,
        |       CAST(keep_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rate
        |FROM plan ORDER BY source""".stripMargin

  /** Mirrors `TextAnalysis.mixtureWeightsCapped(epochCapPct)`: the
    * same plan CTEs with the supply cap at `capPct` percent, plus the
    * int64-exact realization split into full epochs and the remainder
    * prefix.
    */
  def mixtureWeightsCappedSql(capPct: Long): String =
    mixturePlanCtes(capPct) +
      """
        |SELECT source, weight, n_docs, n_tokens, cap_tokens, t_star,
        |       keep_tokens,
        |       CAST(keep_tokens // n_tokens AS BIGINT) AS n_epochs,
        |       CAST(keep_tokens % n_tokens AS BIGINT) AS remainder,
        |       CAST(keep_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rate
        |FROM plan ORDER BY source""".stripMargin

  /** Mirrors `TextAnalysis.dupSpanCoverage(n = 5, minCount = 2)`: the
    * same lead-window positional 5-grams (1-based pos here vs Spark's
    * 0-based — positions never reach the output, only their counts),
    * corpus-wide occurrence counts (NOT distinct doc_id — within-doc
    * repeats are duplicates too, the Lee-et-al. criterion), covered
    * positions via offset expansion + DISTINCT, and one double
    * division per doc.
    */
  /** The x86 duplicated-span coverage CTEs (5-gram build, ≥ minCount
    * grams, per-doc covered-position counts in `agg`) — shared by
    * [[dupSpanCoverageSql]] and [[qualityDupMatrixSql]].
    */
  private def dupCoverCtes(minCount: Long): String =
    s""", gn AS (
       |  SELECT doc_id, pos, gram FROM (
       |    SELECT doc_id, pos,
       |           tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
       |               || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
       |             AS gram
       |    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
       |  WHERE gram IS NOT NULL),
       |dup AS (SELECT gram FROM gn GROUP BY gram
       |        HAVING count(*) >= $minCount),
       |cov AS (SELECT DISTINCT gn.doc_id, gn.pos + o.o AS pos
       |        FROM gn JOIN dup USING (gram)
       |        CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS o) o),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
       |        FROM cov GROUP BY doc_id)""".stripMargin

  def dupSpanCoverageSql(minCount: Long): String =
    toksCte + dupCoverCtes(minCount) +
      """
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(a.n_covered, 0) AS BIGINT) AS n_covered,
        |       CAST(coalesce(a.n_covered, 0) AS DOUBLE) /
        |         CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.qualityDupMatrix`: floor(ttr·bands) per
    * doc (ttr is one int/int IEEE divide, so the band is
    * engine-exact), joined to the x86 coverage CTEs, Σ int64
    * tokens/covered per band with ONE final division.
    */
  def qualityDupMatrixSql(bands: Int, minCount: Long = 2L): String =
    toksCte + dupCoverCtes(minCount) +
      s""",
         |qd AS (
         |  SELECT d.doc_id,
         |         CAST(floor(
         |           CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE) /
         |           CAST(len(string_split(d.text, ' ')) AS DOUBLE) * $bands)
         |           AS BIGINT) AS ttr_band,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST(coalesce(a.n_covered, 0) AS BIGINT) AS n_covered
         |  FROM documents d LEFT JOIN agg a USING (doc_id)
         |)
         |SELECT ttr_band, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_covered) AS BIGINT) AS n_covered,
         |       CAST(sum(n_covered) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
         |         AS dup_frac
         |FROM qd GROUP BY ttr_band ORDER BY ttr_band""".stripMargin

  /** Mirrors `TextAnalysis.dupSpanRemove(n = 5, minCount)`: x86's
    * duplicated-gram rule extended with the keep-one owner (min
    * doc_id per gram), non-owner covered positions expanded and
    * removed, text rebuilt via `string_agg(... ORDER BY pos)` exactly
    * as the boilerplate-strip oracle does.
    */
  def dupSpanRemoveSql(minCount: Long): String =
    toksCte +
      s""", gn AS (
         |  SELECT doc_id, pos, gram FROM (
         |    SELECT doc_id, pos,
         |           tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |               || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
         |             AS gram
         |    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |  WHERE gram IS NOT NULL),
         |dup AS (SELECT gram, min(doc_id) AS canon_id FROM gn
         |        GROUP BY gram HAVING count(*) >= $minCount),
         |cov AS (SELECT DISTINCT gn.doc_id, gn.pos + o.o AS pos
         |        FROM gn JOIN dup USING (gram)
         |        CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS o) o
         |        WHERE gn.doc_id <> dup.canon_id),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
         |         ANTI JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(r.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.sourceOverlapMatrix(n = 3)`: distinct
    * (source, 3-gram) sets, pairwise intersection counts on the gram
    * equi-join, union by inclusion-exclusion as BIGINT, one IEEE
    * divide per pair. Every count is CAST back to BIGINT against
    * DuckDB's HUGEINT widening.
    */
  def sourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '),1) AS pos
      |  FROM documents),
      |gn AS (
      |  SELECT source,
      |         tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
      |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |g AS (SELECT DISTINCT source, gram FROM gn WHERE gram IS NOT NULL),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |p AS (SELECT a.source AS source_a, b.source AS source_b
      |      FROM srcs a JOIN srcs b ON a.source < b.source),
      |i AS (SELECT a.source AS source_a, b.source AS source_b,
      |             CAST(count(*) AS BIGINT) AS n_inter
      |      FROM g a JOIN g b USING (gram) WHERE a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b,
      |       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
      |       CAST(coalesce(sa.n, 0) + coalesce(sb.n, 0)
      |            - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
      |       CASE WHEN coalesce(sa.n, 0) + coalesce(sb.n, 0)
      |                 - coalesce(i.n_inter, 0) > 0
      |            THEN CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
      |                 CAST(coalesce(sa.n, 0) + coalesce(sb.n, 0)
      |                      - coalesce(i.n_inter, 0) AS DOUBLE)
      |            ELSE 0.0 END AS jaccard
      |FROM p LEFT JOIN i USING (source_a, source_b)
      |LEFT JOIN sz sa ON sa.source = p.source_a
      |LEFT JOIN sz sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Mirrors `Similarity.annRecall`: both top-k result sets (the x24
    * brute CTE and the x25 IVF CTE verbatim, sharing `cosineCte`/`q`),
    * then recall@k per query as int64 hit counts with one double
    * division.
    */
  /** The sign-LSH candidate CTEs shared by the x170 top-k and x171
    * recall mirrors — mirrors `Similarity.topKSignLsh`'s pipeline:
    * anchor pairing by vec_id rank, difference hyperplanes, exact
    * int64 sign bits, per-table codes, OR-of-tables candidate join.
    */
  private def signLshCandCte(queryIds: Seq[Long], tables: Int,
                             bitsPerTable: Int): String = {
    val nBits = tables * bitsPerTable
    s""", a AS (
       |  SELECT vec_id, vq FROM n ORDER BY vec_id LIMIT ${2 * nBits}
       |), ai AS (
       |  SELECT vec_id, vq,
       |         row_number() OVER (ORDER BY vec_id) - 1 AS idx
       |  FROM a
       |), h AS (
       |  SELECT e.idx // 2 AS hid,
       |         list_transform(range(len(e.vq)),
       |           i -> e.vq[i+1] - o.vq[i+1]) AS hvec
       |  FROM ai e JOIN ai o ON o.idx = e.idx + 1
       |  WHERE e.idx % 2 = 0
       |), bits AS (
       |  SELECT n.vec_id, h.hid,
       |         CASE WHEN list_sum(list_transform(range(len(n.vq)),
       |           i -> n.vq[i+1] * h.hvec[i+1])) >= 0
       |           THEN 1 ELSE 0 END AS bit
       |  FROM n CROSS JOIN h
       |), codes AS (
       |  SELECT vec_id, hid // $bitsPerTable AS t,
       |         CAST(sum(bit * (1 << (hid % $bitsPerTable))) AS BIGINT)
       |           AS code
       |  FROM bits GROUP BY vec_id, hid // $bitsPerTable
       |), qc AS (
       |  SELECT vec_id AS q_id, t, code FROM codes
       |  WHERE vec_id IN (${queryIds.mkString(",")})
       |), cid AS (
       |  SELECT DISTINCT qc.q_id, c.vec_id
       |  FROM codes c JOIN qc ON c.t = qc.t AND c.code = qc.code
       |  WHERE c.vec_id <> qc.q_id
       |)""".stripMargin
  }

  /** Mirrors `Similarity.topKSignLsh`: the shared candidate CTEs plus
    * the exact-cosine re-rank tail every embedding oracle uses.
    */
  def signLshTopKSql(queryIds: Seq[Long], k: Int, tables: Int,
                     bitsPerTable: Int): String =
    cosineCte + signLshCandCte(queryIds, tables, bitsPerTable) +
      s""", q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cand AS (
         |  SELECT cid.q_id, cid.vec_id, n.vq, q.qv, n.n2, q.qn2
         |  FROM cid JOIN n ON n.vec_id = cid.vec_id
         |            JOIN q ON q.q_id = cid.q_id
         |)""".stripMargin + cosineTail(k)

  /** Mirrors `Similarity.signLshRecall`: brute-force ground truth vs
    * the sign-LSH top-k, per-query hit counts — the annRecallSql
    * shape over the LSH candidate set.
    */
  def signLshRecallSql(queryIds: Seq[Long], k: Int, tables: Int,
                       bitsPerTable: Int): String =
    cosineCte + signLshCandCte(queryIds, tables, bitsPerTable) +
      s""", q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cb AS (
         |  SELECT q.q_id, vec_id,
         |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
         |  FROM n CROSS JOIN q WHERE vec_id <> q_id
         |), tb AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cb) WHERE rn <= $k
         |), cl AS (
         |  SELECT cid.q_id, cid.vec_id,
         |         ${cosSql("n.vq", "n.n2", "q.qv", "q.qn2")} AS cosine
         |  FROM cid JOIN n ON n.vec_id = cid.vec_id
         |            JOIN q ON q.q_id = cid.q_id
         |), tl AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cl) WHERE rn <= $k
         |), agg AS (
         |  SELECT tb.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN tl.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM tb LEFT JOIN tl
         |    ON tb.q_id = tl.q_id AND tb.vec_id = tl.vec_id
         |  GROUP BY tb.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
         |FROM agg ORDER BY q_id""".stripMargin

  def annRecallSql(queryIds: Seq[Long], k: Int): String =
    cosineCte +
      s""", q AS (
         |  SELECT vec_id AS q_id, label AS q_label, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cb AS (
         |  SELECT q_id, vec_id,
         |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
         |  FROM n CROSS JOIN q WHERE vec_id <> q_id
         |), tb AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cb) WHERE rn <= $k
         |), ci AS (
         |  SELECT q_id, vec_id,
         |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
         |  FROM n JOIN q ON n.label = q.q_label WHERE vec_id <> q_id
         |), ti AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM ci) WHERE rn <= $k
         |), agg AS (
         |  SELECT tb.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN ti.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM tb LEFT JOIN ti
         |    ON tb.q_id = ti.q_id AND tb.vec_id = ti.vec_id
         |  GROUP BY tb.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
         |FROM agg ORDER BY q_id""".stripMargin

  /** Mirrors `Similarity.ivfRecallCurve` with
    * `IvfCodec.Cosine`: brute-force ground truth
    * computed ONCE (`tb`), the query→cell ranking computed ONCE
    * (`qc`), then each curve point (`probes` VALUES row) takes its
    * `crk <= nprobe` cell prefix, runs the probed top-k, and joins
    * back against the shared truth. The largest nprobe exceeds any
    * SF's cell count, so its rows must read recall = 1.0 — the x95
    * ≡-brute property as visible data.
    */
  /** Truncated-dimension recall curve — mirror of
    * `Similarity.truncatedDimRecall`. Slicing the QUANTIZED vector
    * equals quantizing the sliced one (quantization is per-element),
    * so the `n` CTE is shared with every other vector oracle; the
    * d-dim engine re-derives norms over the slice.
    */
  def truncatedDimRecallSql(queryIds: Seq[Long], k: Int,
                            dims: Seq[Int]): String =
    cosineCte +
      s""", dimsv AS (
         |  SELECT CAST(d AS BIGINT) AS dims
         |  FROM (VALUES ${dims.map(d => s"($d)").mkString(", ")}) t(d)
         |), q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cb AS (
         |  SELECT q_id, vec_id,
         |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
         |  FROM n CROSS JOIN q WHERE vec_id <> q_id
         |), tb AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cb) WHERE rn <= $k
         |), n2d AS (
         |  SELECT dims, vec_id,
         |         list_slice(vq, 1, CAST(dims AS INTEGER)) AS dvq,
         |         CAST(list_sum(list_transform(
         |           list_slice(vq, 1, CAST(dims AS INTEGER)), x -> x*x))
         |           AS BIGINT) AS dn2
         |  FROM n CROSS JOIN dimsv
         |), qd AS (
         |  SELECT dims AS qdims, vec_id AS q_id, dvq AS qv, dn2 AS qn2
         |  FROM n2d WHERE vec_id IN (${queryIds.mkString(",")})
         |), cd AS (
         |  SELECT a.dims, b.q_id, a.vec_id,
         |         ${cosSql("a.dvq", "a.dn2", "b.qv", "b.qn2")} AS cosine
         |  FROM n2d a JOIN qd b ON a.dims = b.qdims
         |  WHERE a.vec_id <> b.q_id
         |), td AS (
         |  SELECT dims, q_id, vec_id FROM (
         |    SELECT dims, q_id, vec_id,
         |           row_number() OVER (PARTITION BY dims, q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cd) WHERE rn <= $k
         |), agg AS (
         |  SELECT dv.dims, tb.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN td.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM tb CROSS JOIN dimsv dv
         |  LEFT JOIN td ON td.dims = dv.dims AND td.q_id = tb.q_id
         |    AND td.vec_id = tb.vec_id
         |  GROUP BY dv.dims, tb.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall,
         |       dims
         |FROM agg ORDER BY dims, q_id""".stripMargin

  def annRecallCurveSql(queryIds: Seq[Long], k: Int,
                        nprobes: Seq[Int]): String =
    cosineCte + centroidCtes +
      s""", probes AS (
         |  SELECT CAST(np AS BIGINT) AS nprobe
         |  FROM (VALUES ${nprobes.map(p => s"($p)").mkString(", ")}) t(np)
         |), q AS (
         |  SELECT vec_id AS q_id, vq AS qv, n2 AS qn2
         |  FROM n WHERE vec_id IN (${queryIds.mkString(",")})
         |), cb AS (
         |  SELECT q_id, vec_id,
         |         ${cosSql("vq", "n2", "qv", "qn2")} AS cosine
         |  FROM n CROSS JOIN q WHERE vec_id <> q_id
         |), tb AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM cb) WHERE rn <= $k
         |), qc AS (
         |  SELECT q_id, qv, qn2, c_label,
         |         row_number() OVER (PARTITION BY q_id ORDER BY
         |           CAST(qn2 - 2*list_sum(list_transform(range(len(qv)),
         |                  i -> qv[i+1]*cvec[i+1])) + cn2 AS BIGINT),
         |           c_label) AS crk
         |  FROM q CROSS JOIN centn
         |), probed AS (
         |  SELECT p.nprobe, qc.q_id, qc.qv, qc.qn2, qc.c_label
         |  FROM qc CROSS JOIN probes p WHERE qc.crk <= p.nprobe
         |), ci AS (
         |  SELECT pr.nprobe, pr.q_id, n.vec_id,
         |         ${cosSql("n.vq", "n.n2", "pr.qv", "pr.qn2")} AS cosine
         |  FROM n JOIN probed pr ON n.label = pr.c_label
         |  WHERE n.vec_id <> pr.q_id
         |), ti AS (
         |  SELECT nprobe, q_id, vec_id FROM (
         |    SELECT nprobe, q_id, vec_id,
         |           row_number() OVER (PARTITION BY nprobe, q_id
         |                              ORDER BY cosine DESC, vec_id) AS rn
         |    FROM ci) WHERE rn <= $k
         |), agg AS (
         |  SELECT p.nprobe, tb.q_id, CAST(count(*) AS BIGINT) AS n_brute,
         |         CAST(sum(CASE WHEN ti.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM tb CROSS JOIN probes p
         |  LEFT JOIN ti ON ti.nprobe = p.nprobe AND tb.q_id = ti.q_id
         |    AND tb.vec_id = ti.vec_id
         |  GROUP BY p.nprobe, tb.q_id
         |)
         |SELECT q_id, n_brute, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall,
         |       nprobe
         |FROM agg ORDER BY nprobe, q_id""".stripMargin

  /** Mirrors `TextAnalysis.mixtureApply` under the x85 weight
    * convention: the same plan CTEs as [[mixtureWeightsSql]], then ONE
    * naive running-sum window per source with the keep-while-prior-
    * under-budget rule — the engine's two-phase (source, bucket)
    * decomposition must hash-match this one-window spelling.
    */
  def mixtureApplySql: String =
    mixturePlanCtes(100) +
      """, d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT d.doc_id, d.source, d.n_tokens, p.keep_tokens,
        |         CAST(sum(d.n_tokens) OVER (PARTITION BY d.source
        |                                    ORDER BY d.doc_id) AS BIGINT) AS cum
        |  FROM d JOIN plan p USING (source)
        |)
        |SELECT doc_id, source, n_tokens, cum
        |FROM r WHERE cum - n_tokens < keep_tokens ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.mixtureApplyCapped(epochCapPct)`: ONE naive
    * per-source running-sum window, each doc kept `n_epochs` times
    * plus once more inside the remainder prefix — emitted as a repeat
    * count, exactly like the engine. The engine's two-phase
    * (source, bucket) decomposition must hash-match this spelling.
    */
  /** The capped-apply CTEs after [[mixturePlanCtes]]: per-doc token
    * counts, the naive per-source running sum, and the kept set with
    * its repeat counts (`kept`). Shared by [[mixtureApplyCappedSql]]
    * and [[mixturePackSql]].
    */
  private val cappedApplyCtes: String =
    """, d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), r AS (
      |  SELECT d.doc_id, d.source, d.n_tokens,
      |         CAST(p.keep_tokens // p.n_tokens AS BIGINT) AS n_epochs,
      |         CAST(p.keep_tokens % p.n_tokens AS BIGINT) AS remainder,
      |         CAST(sum(d.n_tokens) OVER (PARTITION BY d.source
      |                                    ORDER BY d.doc_id) AS BIGINT) AS cum
      |  FROM d JOIN plan p USING (source)
      |), kept AS (
      |  SELECT doc_id, source, n_tokens, cum,
      |         CAST(n_epochs + CASE WHEN cum - n_tokens < remainder
      |                              THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      |  FROM r WHERE n_epochs >= 1 OR cum - n_tokens < remainder
      |)""".stripMargin

  def mixtureApplyCappedSql(capPct: Long): String =
    mixturePlanCtes(capPct) + cappedApplyCtes +
      """
        |SELECT doc_id, source, n_tokens, cum, n_copies
        |FROM kept ORDER BY doc_id""".stripMargin

  /** Mirrors the x104 mixture→epochs→packing composition: the capped
    * plan's kept set exploded into per-epoch copies
    * (`generate_series`, inclusive like Spark's `sequence`), then ONE
    * naive running-sum window over the whole copy stream in
    * (epoch, doc_id) order — the engine's surrogate-keyed two-phase
    * bucket decomposition must hash-match this spelling.
    */
  def mixturePackSql(capPct: Long, binTokens: Long): String =
    mixturePlanCtes(capPct) + cappedApplyCtes +
      s""", copies AS (
         |  SELECT CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT)
         |           AS epoch,
         |         doc_id, n_tokens
         |  FROM kept
         |), s AS (
         |  SELECT epoch, doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY epoch, doc_id)
         |              AS BIGINT) AS cum
         |  FROM copies
         |)
         |SELECT epoch, doc_id, n_tokens,
         |       CAST(cum - n_tokens AS BIGINT) AS start_tok,
         |       CAST((cum - n_tokens) // $binTokens AS BIGINT) AS first_seq,
         |       CAST((cum - 1) // $binTokens AS BIGINT) AS last_seq
         |FROM s ORDER BY epoch, doc_id""".stripMargin

  /** Mirrors `TextAnalysis.packSequences(binTokens)`: ONE naive global
    * running-sum window in doc_id order — the engine's two-phase
    * bucket decomposition must hash-match this spelling. `//` ≡ Spark
    * `DIV` (all operands non-negative).
    */
  def packSequencesSql(binTokens: Long): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
       |  FROM d
       |)
       |SELECT doc_id, n_tokens,
       |       cum - n_tokens AS start_tok,
       |       CAST((cum - n_tokens) // $binTokens AS BIGINT) AS first_seq,
       |       CAST((cum - 1) // $binTokens AS BIGINT) AS last_seq
       |FROM r ORDER BY doc_id""".stripMargin

  /** Mirrors the x98 crawl novelty series (crawl = doc_id // 100):
    * distinct (crawl, shingle) pairs, first-occurrence crawl per
    * shingle, per-crawl new-gram fraction.
    */
  def crawlNoveltySql: String =
    shCte(3) +
      """
        |, cg AS (
        |  SELECT DISTINCT doc_id // 100 AS crawl, unnest(s) AS g FROM sh
        |), fs AS (
        |  SELECT g, min(crawl) AS first_crawl FROM cg GROUP BY g
        |), agg AS (
        |  SELECT cg.crawl, CAST(count(*) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN cg.crawl = fs.first_crawl
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM cg JOIN fs ON cg.g = fs.g GROUP BY cg.crawl
        |)
        |SELECT CAST(crawl AS BIGINT) AS crawl, n_grams, n_new,
        |       CAST(n_new AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
        |FROM agg ORDER BY crawl""".stripMargin

  /** Mirrors the x90 snapshot diff over the synthesized new snapshot
    * (10% of ids deleted, every 7th text revised, deleted ids reborn
    * at +1000000 as adds): per-id full outer join of md5 fingerprints.
    */
  def snapshotDiffSql: String =
    """WITH oldsnap AS (
      |  SELECT doc_id, md5(text) AS fp_old FROM documents
      |), newsnap AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
      |           AS fp_new
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp_new
      |  FROM documents WHERE doc_id % 10 = 0
      |)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN fp_old IS NOT DISTINCT FROM fp_new THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Mirrors the x103 streaming corpus ingestion: the same run-of-5
    * duplicate synthesis (each doc carries its run head's text, with
    * n_chars re-derived from that canonical text), batch
    * min-doc_id-per-md5 dedup — the streamed file pipe must land
    * exactly these rows in the curated layout. Quarantine bait never
    * reaches the oracle's universe by construction (malformed lines
    * parse to no doc_id).
    */
  def streamCorpusSql: String =
    "WITH " + corpusSynthCtes(mutate = false) +
      """keep AS (
        |  SELECT min(doc_id) AS doc_id FROM synth GROUP BY md5(text)
        |)
        |SELECT s.doc_id, s.lang, s.source, s.n_chars
        |FROM synth s JOIN keep USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Mirrors the x87 streaming dedup: the synthesized duplicated corpus
    * (every run of 5 consecutive doc_ids shares the canonical
    * `doc_id − doc_id % 5` text) deduped to its first occurrence — the
    * batch spelling `min(doc_id) GROUP BY md5(text)` that the
    * keyed-state streaming query must reproduce exactly.
    */
  def streamDedupSql: String =
    """WITH d AS (
      |  SELECT a.doc_id, b.text
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5
      |)
      |SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS doc_id
      |FROM d GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** Mirrors `TextAnalysis.qualityCalibratedGate(dropPermille)`:
    * integer permille-TTR score, per-lang score histogram, cumulative
    * counts, `cut = (n · dropPermille) // 1000`, threshold =
    * (cut+1)-th smallest score, keep-ties gate sums. Every product /
    * sum CAST back to BIGINT (DuckDB widens both to HUGEINT).
    */
  def qualityGateSql(dropPermille: Int): String =
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |         CAST(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |              * 1000 AS BIGINT)
       |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_milli,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |h AS (
       |  SELECT lang, score_milli, CAST(count(*) AS BIGINT) AS n_s,
       |         CAST(sum(n_tokens) AS BIGINT) AS tok_s
       |  FROM s GROUP BY lang, score_milli),
       |c AS (
       |  SELECT lang, score_milli, n_s, tok_s,
       |         CAST(sum(n_s) OVER (PARTITION BY lang ORDER BY score_milli)
       |              AS BIGINT) AS cum,
       |         CAST(sum(n_s) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM h),
       |c2 AS (SELECT *, CAST(n * $dropPermille AS BIGINT) // 1000 AS cut FROM c),
       |t AS (SELECT lang, min(score_milli) AS threshold
       |      FROM c2 WHERE cum >= cut + 1 GROUP BY lang)
       |SELECT c2.lang, max(n) AS n_docs, max(cut) AS cut_docs,
       |       max(threshold) AS threshold,
       |       CAST(sum(CASE WHEN score_milli >= threshold THEN n_s ELSE 0 END)
       |            AS BIGINT) AS kept_docs,
       |       CAST(sum(CASE WHEN score_milli >= threshold THEN tok_s ELSE 0 END)
       |            AS BIGINT) AS kept_tokens
       |FROM c2 JOIN t USING (lang) GROUP BY c2.lang ORDER BY lang""".stripMargin

  /** Mirrors `TextAnalysis.normalizedDedup`: the canonicalization
    * chain (lower → strip `[^a-z0-9 ]` → collapse space runs → trim;
    * `'g'` flags because DuckDB `regexp_replace` is first-match-only
    * by default), md5 group, min-doc_id owner, join back.
    */
  def normalizedDedupSql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(
      |           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |           ' +', ' ', 'g'))) AS canon_fp
      |  FROM documents),
      |g AS (
      |  SELECT canon_fp, CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |         CAST(count(*) AS BIGINT) AS n_copies
      |  FROM fp GROUP BY canon_fp)
      |SELECT fp.doc_id, fp.canon_fp, g.canonical_id, g.n_copies,
      |       fp.doc_id = g.canonical_id AS is_kept
      |FROM fp JOIN g USING (canon_fp) ORDER BY fp.doc_id""".stripMargin

  /** Mirrors `TextAnalysis.epochShards`: the per-epoch salted-hash
    * order (`md5(doc_id || ':' || epoch)` — identical text in both
    * engines) replayed as ONE naive global window per epoch, so the
    * hash match proves the epoch-partitioned two-phase decomposition
    * exact for every epoch at once. Window sum CAST back from
    * DuckDB's HUGEINT widening.
    */
  def epochShardsSql(shardTokens: Long, epochs: Int): String =
    s"""WITH e AS (SELECT unnest(range(0, $epochs)) AS epoch),
       |t AS (
       |  SELECT epoch, doc_id,
       |         md5(CAST(doc_id AS VARCHAR) || ':' ||
       |             CAST(epoch AS VARCHAR)) AS h,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents CROSS JOIN e
       |), c AS (
       |  SELECT epoch, doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY epoch ORDER BY h)
       |              AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, n_tokens,
       |       CAST((cum - n_tokens) // $shardTokens AS BIGINT) AS shard
       |FROM c ORDER BY epoch, doc_id""".stripMargin

  /** Mirrors `TextAnalysis.epochMixingAudit`: epoch-0 and epoch-1
    * shard assignments folded to one row per doc by conditional max,
    * the (shard0, shard1) contingency cells, then the per-shard0
    * scatter summary.
    */
  def epochMixingSql(shardTokens: Long): String =
    s"""WITH e AS (SELECT unnest(range(0, 2)) AS epoch),
       |t AS (
       |  SELECT epoch, doc_id,
       |         md5(CAST(doc_id AS VARCHAR) || ':' ||
       |             CAST(epoch AS VARCHAR)) AS h,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents CROSS JOIN e
       |), c AS (
       |  SELECT epoch, doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY epoch ORDER BY h)
       |              AS BIGINT) AS cum
       |  FROM t
       |), a AS (
       |  SELECT epoch, doc_id,
       |         CAST((cum - n_tokens) // $shardTokens AS BIGINT) AS shard
       |  FROM c
       |), w AS (
       |  SELECT doc_id,
       |         max(CASE WHEN epoch = 0 THEN shard END) AS shard0,
       |         max(CASE WHEN epoch = 1 THEN shard END) AS shard1
       |  FROM a GROUP BY doc_id
       |), cells AS (
       |  SELECT shard0, shard1, CAST(count(*) AS BIGINT) AS n
       |  FROM w GROUP BY shard0, shard1
       |)
       |SELECT shard0 AS shard, CAST(sum(n) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_next_shards,
       |       CAST(max(n) AS BIGINT) AS max_overlap
       |FROM cells GROUP BY shard0 ORDER BY shard""".stripMargin

  /** The Morton spread-bits ladder as SQL text — `spread8(c)` places
    * the low 8 bits of `c` on the even bit positions of a 16-bit
    * word. Masks 3855/13107/21845 = 0x0F0F/0x3333/0x5555; DuckDB's
    * `<<`/`&`/`|` on BIGINT match Spark's int64 semantics exactly on
    * these non-negative bounded values.
    */
  private def spreadSql(c: String): String = {
    val s4 = s"((($c) | (($c) << 4)) & 3855)"
    val s2 = s"(($s4 | ($s4 << 2)) & 13107)"
    s"(($s2 | ($s2 << 1)) & 21845)"
  }

  /** The shared binned-dimensions prefix of the layout mirrors:
    * min/max-normalized 256-cell ranks of (doc_id, n_chars) plus the
    * Morton key, mirroring `Layout.binned`.
    */
  private def binnedSql: String =
    s"""WITH st AS (
       |  SELECT min(doc_id) AS mnd, max(doc_id) AS mxd,
       |         min(n_chars) AS mnc, max(n_chars) AS mxc
       |  FROM documents
       |), b AS (
       |  SELECT doc_id,
       |         ((doc_id - mnd) * 256) // (mxd - mnd + 1) AS bin_d,
       |         ((n_chars - mnc) * 256) // (mxc - mnc + 1) AS bin_c
       |  FROM documents CROSS JOIN st
       |), z AS (
       |  SELECT doc_id, bin_d, bin_c,
       |         (${spreadSql("bin_d")} |
       |          (${spreadSql("bin_c")} << 1)) AS zkey
       |  FROM b
       |)""".stripMargin

  /** Mirrors `Layout.layoutFileStats`: both layouts' file assignments
    * (Morton-key-space slice vs doc_id-rank slice) unioned, per-file
    * row count and both dimensions' extremes.
    */
  def layoutFileStatsSql(files: Int): String =
    s"""$binnedSql, t AS (
       |  SELECT 'zorder' AS layout, (zkey * $files) // 65536 AS file,
       |         bin_d, bin_c FROM z
       |  UNION ALL
       |  SELECT 'linear' AS layout, (bin_d * $files) // 256 AS file,
       |         bin_d, bin_c FROM z
       |)
       |SELECT layout, CAST(file AS BIGINT) AS file,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(min(bin_d) AS BIGINT) AS min_d,
       |       CAST(max(bin_d) AS BIGINT) AS max_d,
       |       CAST(min(bin_c) AS BIGINT) AS min_c,
       |       CAST(max(bin_c) AS BIGINT) AS max_c
       |FROM t GROUP BY layout, file ORDER BY layout, file""".stripMargin

  /** Mirrors `Layout.layoutSkipAudit`: every populated value of each
    * dimension probes both layouts' per-file min/max ranges on that
    * dimension (the parquet pruning rule for a single-column
    * predicate), rolled up to one row per (layout, dim). The two
    * DOUBLE columns are single divisions of exact int64 sums —
    * IEEE-754 identical in both engines.
    */
  def layoutSkipAuditSql(files: Int): String =
    s"""$binnedSql, t AS (
       |  SELECT 'zorder' AS layout, (zkey * $files) // 65536 AS file,
       |         bin_d, bin_c FROM z
       |  UNION ALL
       |  SELECT 'linear' AS layout, (bin_d * $files) // 256 AS file,
       |         bin_d, bin_c FROM z
       |), s AS (
       |  SELECT layout, file,
       |         min(bin_d) AS min_d, max(bin_d) AS max_d,
       |         min(bin_c) AS min_c, max(bin_c) AS max_c
       |  FROM t GROUP BY layout, file
       |), nf AS (
       |  SELECT layout, CAST(count(*) AS BIGINT) AS n_files
       |  FROM s GROUP BY layout
       |), p AS (
       |  SELECT DISTINCT 'doc_id' AS dim, bin_d AS v FROM z
       |  UNION
       |  SELECT DISTINCT 'n_chars' AS dim, bin_c AS v FROM z
       |), pp AS (
       |  SELECT s.layout, p.dim, p.v,
       |         CAST(count(*) AS BIGINT) AS fr
       |  FROM p JOIN s
       |    ON (p.dim = 'doc_id' AND p.v BETWEEN s.min_d AND s.max_d)
       |    OR (p.dim = 'n_chars' AND p.v BETWEEN s.min_c AND s.max_c)
       |  GROUP BY s.layout, p.dim, p.v
       |), agg AS (
       |  SELECT layout, dim, CAST(count(*) AS BIGINT) AS n_probes,
       |         CAST(sum(fr) AS BIGINT) AS fr_sum,
       |         CAST(max(fr) AS BIGINT) AS worst_files_read
       |  FROM pp GROUP BY layout, dim
       |)
       |SELECT a.layout, a.dim, n.n_files, a.n_probes,
       |       CAST(a.fr_sum AS DOUBLE) / CAST(a.n_probes AS DOUBLE)
       |         AS avg_files_read,
       |       a.worst_files_read,
       |       CAST(a.fr_sum AS DOUBLE) /
       |         CAST(a.n_probes * n.n_files AS DOUBLE) AS read_frac
       |FROM agg a JOIN nf n USING (layout)
       |ORDER BY a.layout, a.dim""".stripMargin
}
